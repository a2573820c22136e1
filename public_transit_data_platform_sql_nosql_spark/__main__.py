"""Runnable entry points — the engine's analog of the reference's
operational scripts, so "switching repos" keeps the same muscle memory:

  reference                                   this engine
  ---------                                   -----------
  python SQL/generate_csv.py                  ... precompute
  python Mongo/denormalization.py             ... denormalize
  python SQL/app.py / Mongo/app.py            ... serve
  (no analog — MySQL owns storage)            ... compact

Usage (all flags optional where noted):

  python -m public_transit_data_platform_sql_nosql_spark ingest \
      --dataset-dir feed/ --out out/parquet [--bucket-by-trip]
  python -m public_transit_data_platform_sql_nosql_spark denormalize \
      --sf-dir /root/testdata/sf0.01 --out out/denorm [--bucket-stops]
  python -m public_transit_data_platform_sql_nosql_spark precompute \
      --sf-dir /root/testdata/sf0.01 --out out/results
  python -m public_transit_data_platform_sql_nosql_spark compact \
      --path out/denorm [--target-mb 128]
  python -m public_transit_data_platform_sql_nosql_spark upsert \
      --path out/store --updates batch/ --key k [--partition-col p]
  python -m public_transit_data_platform_sql_nosql_spark dedup-index \
      --path out/idx --batch docs/ [--build] [--threshold 0.5]
      [--no-append] [--keep-out out/corpus]
  python -m public_transit_data_platform_sql_nosql_spark delete \
      --path out/store (--keys keys/ --key k | --where "ts < 123")
      [--partition-col p]
  python -m public_transit_data_platform_sql_nosql_spark sql \
      "SELECT ... FROM stops ..." [--sf-dir ...] [--limit 100]
  python -m public_transit_data_platform_sql_nosql_spark plan \
      --query q1_busiest_stops [--sf-dir ...] [--execute] [--full]
  python -m public_transit_data_platform_sql_nosql_spark serve \
      --sf-dir /root/testdata/sf0.01 [--precompute-dir out/results]
      [--port 5000]

``--sf-dir`` commands read the driver's TPC-H-shaped testdata through the
GTFS adapter; ``ingest`` reads a real GTFS text feed.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(app_name=f"transit-cli-{app}")


def _gtfs(spark, sf_dir: str):
    from .sources.tpch_adapter import register_gtfs_views

    return register_gtfs_views(spark, sf_dir)


def cmd_ingest(args: argparse.Namespace) -> int:
    from .sources.ingest import ingest_gtfs

    spark = _spark("ingest")
    out = ingest_gtfs(spark, args.dataset_dir, args.out,
                      bucket_by_trip=args.bucket_by_trip)
    print(json.dumps({"tables": out}))
    return 0


def cmd_denormalize(args: argparse.Namespace) -> int:
    from .jobs.denormalize import (
        denormalize_stop_timetables,
        write_stop_timetables,
    )

    spark = _spark("denormalize")
    g = _gtfs(spark, args.sf_dir)
    df = denormalize_stop_timetables(
        g["stop_times"], g["trips"], g["stops"], g["routes"])
    write_stop_timetables(df, args.out, bucket_stops=args.bucket_stops)
    print(json.dumps({"out": args.out,
                      "stops": spark.read.parquet(args.out).count(),
                      "bucketed": args.bucket_stops}))
    return 0


def cmd_precompute(args: argparse.Namespace) -> int:
    from .jobs.precompute import materialize_all

    spark = _spark("precompute")
    materialize_all(_gtfs(spark, args.sf_dir), args.out)
    print(json.dumps({"out": args.out}))
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from .jobs.compact import compact_parquet_dir

    spark = _spark("compact")
    stats = compact_parquet_dir(
        spark, args.path,
        target_file_bytes=args.target_mb * 1024 * 1024)
    print(json.dumps(stats))
    return 0


def cmd_upsert(args: argparse.Namespace) -> int:
    spark = _spark("upsert")
    from .jobs.upsert import upsert_parquet_dir

    stats = upsert_parquet_dir(
        spark, args.path, spark.read.parquet(args.updates),
        key_cols=args.key.split(","),
        partition_col=args.partition_col)
    print(json.dumps(stats))
    return 0


def cmd_delete(args: argparse.Namespace) -> int:
    """DELETE from a parquet sink: ``--keys <dir>`` deletes by key list,
    ``--where <expr>`` by predicate (exactly one required)."""
    spark = _spark("delete")
    from .jobs.upsert import delete_keys_parquet_dir, delete_where_parquet_dir

    if (args.keys is None) == (args.where is None):
        print("delete: exactly one of --keys / --where is required",
              file=sys.stderr)
        return 2
    if args.keys is not None:
        stats = delete_keys_parquet_dir(
            spark, args.path, spark.read.parquet(args.keys),
            key_cols=args.key.split(","),
            partition_col=args.partition_col)
    else:
        stats = delete_where_parquet_dir(
            spark, args.path, args.where,
            partition_col=args.partition_col)
    print(json.dumps(stats))
    return 0


def cmd_stats(args: argparse.Namespace) -> int:
    """Build or probe the file-level min/max skipping manifest
    (jobs/stats_index.py): ``--build col,col`` profiles the sink;
    ``--probe col:lo:hi[,col:lo:hi]`` prints the skip decision."""
    from .jobs.stats_index import skipping_plan, write_file_stats

    spark = _spark("stats")
    if args.build:
        n = write_file_stats(spark, args.path, args.build.split(","))
        print(json.dumps({"files_profiled": n}))
        return 0
    bounds = {}
    for part in args.probe.split(","):
        c, lo, hi = part.split(":")
        bounds[c] = (float(lo), float(hi))
    print(json.dumps(skipping_plan(spark, args.path, bounds)))
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc Spark SQL over the GTFS views (plus ``documents`` /
    ``embeddings`` / ``events`` when present) — the switching user's
    mysql-client replacement."""
    spark = _spark("sql")
    for name, df in _gtfs(spark, args.sf_dir).items():
        df.createOrReplaceTempView(name)  # bare names: stops, trips, ...
    from .sources.tpch_adapter import register_tpch

    for t in ("documents", "embeddings", "events"):
        try:
            register_tpch(spark, args.sf_dir, (t,))
        except Exception:  # table absent from this dir -- fine
            pass
    df = spark.sql(args.sql)
    rows = df.limit(args.limit).collect()
    print(json.dumps({"columns": df.columns,
                      "rows": [[str(v) if v is not None else None
                                for v in r] for r in rows]}))
    return 0


def cmd_dedup_index(args: argparse.Namespace) -> int:
    """Build or apply the incremental MinHash dedup index: ``--build``
    pays the one corpus pass; without it each run dedups ``--batch``
    against the index (appending survivors unless ``--no-append``) and
    optionally lands them at ``--keep-out``."""
    spark = _spark("dedup-index")
    from .pipeline.incremental import incremental_dedup, write_signature_index

    docs = spark.read.parquet(args.batch)
    if args.build:
        write_signature_index(docs, args.path)
        print(json.dumps({"built": True, "n_docs": docs.count()}))
        return 0
    r = incremental_dedup(spark, args.path, docs,
                          threshold=args.threshold,
                          append=not args.no_append)
    if args.keep_out:
        r["kept"].write.mode("append").parquet(args.keep_out)
    print(json.dumps({k: v for k, v in r.items() if k != "kept"}))
    return 0


def cmd_snapshot(args: argparse.Namespace) -> int:
    """Versioned-store operations (jobs/versioned.py): commit a parquet
    dir as the next snapshot, read/count a version, vacuum history, or
    (default) list versions."""
    spark = _spark("snapshot")
    from .jobs.versioned import (
        commit_version,
        list_versions,
        read_version,
        vacuum,
    )

    if args.commit:
        st = commit_version(
            spark.read.parquet(args.commit), args.path,
            mode="append" if args.append else "overwrite")
        print(json.dumps(st))
    elif args.vacuum_keep is not None:
        print(json.dumps(vacuum(spark, args.path,
                                keep_last=args.vacuum_keep)))
    elif args.read is not None:
        v = None if args.read < 0 else args.read
        df = read_version(spark, args.path, v)
        print(json.dumps({"version": v, "rows": df.count(),
                          "columns": df.columns}))
    else:
        print(json.dumps({"versions": list_versions(spark, args.path)}))
    return 0


def cmd_tokenizer_train(args: argparse.Namespace) -> int:
    """Learn a BPE merge table from a documents parquet and write it as
    JSON — the ``merges.txt`` artifact of a tokenizer-training run
    (feed it back via pipeline/bpe.bpe_tokens(merges=...))."""
    spark = _spark("tokenizer-train")
    from .pipeline.bpe import learn_merges

    docs = spark.read.parquet(args.docs)
    rows = learn_merges(docs, n_merges=args.n_merges).orderBy("rank").collect()
    payload = {
        "n_merges": len(rows),
        "merges": [[r["left"], r["right"]] for r in rows],
        "pair_counts": [int(r["pair_count"]) for r in rows],
    }
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(payload, f)
    print(json.dumps({"n_merges": payload["n_merges"],
                      "out": args.out or None}))
    return 0


def cmd_web_curate(args: argparse.Namespace) -> int:
    """End-to-end URL curation over a docs parquet with a ``url``
    column: suffix-blocklist filter -> canonical-URL keep-one ->
    per-domain cap, writing the surviving docs (pipeline/web.py).  One
    JSON status line reports the funnel counts."""
    spark = _spark("web-curate")
    from pyspark.sql import functions as F

    from .pipeline.web import (
        WEB_CAP,
        blocklist_filter,
        domain_cap,
        url_dedup,
    )

    # each stage's survivor set is persisted before its count so the
    # parquet read, blocklist suffix-explosion join, and url_dedup
    # groupBy each execute ONCE — the funnel counts and the final write
    # reuse the materialized stage instead of re-running the lineage
    docs = spark.read.parquet(args.docs).persist()
    n_in = docs.count()
    blocked = tuple(args.block or ())
    kept = blocklist_filter(docs, blocked=blocked).select("doc_id")
    s1 = docs.join(kept, "doc_id", "left_semi").persist()
    n_blocked = n_in - s1.count()
    s2 = s1.join(
        url_dedup(s1).select("doc_id"), "doc_id", "left_semi").persist()
    n_after_dedup = s2.count()
    cap = args.cap if args.cap is not None else WEB_CAP
    out = (
        s2.join(domain_cap(s2, cap=cap).select("doc_id"),
                "doc_id", "left_semi")
        .orderBy(F.col("doc_id")).persist()
    )
    n_out = out.count()
    out.write.mode("overwrite").parquet(args.out)
    for df in (out, s2, s1, docs):
        df.unpersist()
    print(json.dumps({
        "n_in": n_in, "n_blocked": n_blocked,
        "n_url_dups_dropped": (n_in - n_blocked) - n_after_dedup,
        "n_domain_capped": n_after_dedup - n_out,
        "n_out": n_out, "cap": cap, "out": args.out,
    }))
    return 0


def _parse_grid(s: str | None, kind: str | None = None
                ) -> tuple[tuple | None, str | None]:
    """``--rerank-mults`` -> ``(grid, error)``.  None passes through
    (default ladders); an empty string means an EMPTY grid, which pins
    tune's IVF second rung off — but on a FLAT kind the rerank grid is
    the ONLY ladder, so an empty grid would measure nothing and report
    ``target_unreachable`` (rc 3) as if recall were the problem:
    refused (rc 2) with the reason named instead.  Non-numeric entries
    are refused with the offending input quoted, not a bare ``int()``
    traceback."""
    if s is None:
        return None, None
    try:
        grid = tuple(int(x) for x in s.split(",") if x.strip())
    except ValueError:
        return None, (f"--rerank-mults: expected comma-separated "
                      f"integers, got {s!r}")
    from .pipeline.similarity import INDEX_KINDS

    if not grid and kind is not None and not INDEX_KINDS[kind].ivf:
        return None, (f"--rerank-mults '': an empty grid pins the IVF "
                      f"second rung off, but a {kind} index has no "
                      f"probe rung — the rerank grid is its only "
                      f"ladder; pass a non-empty grid or omit the "
                      f"flag for the default ladder")
    return grid, None


def _refuse_where_without_attrs(where: str | None, man: dict,
                                path: str) -> dict | None:
    """A ``--where`` against an index that stores NO attribute columns
    cannot push down anywhere — silently dropping it would return
    unfiltered (cross-tenant!) results with exit 0, so refuse loudly
    (every kind SUPPORTS where= now; what's missing is the attrs)."""
    if where is not None and not man.get("attrs"):
        return {"error": f"vector index {path} stores no attribute "
                         f"columns — --where has nothing to push down; "
                         f"rebuild with attrs= or filter via an "
                         f"allowed= id-list"}
    return None


def cmd_vector_index(args: argparse.Namespace) -> int:
    """Manage a manifest-committed vector index
    (pipeline/similarity.py): ``build`` trains the quantizer/centroids/
    codebooks (``--ivf`` = SQ8 codes + k-means partition pruning,
    ``--pq`` = product quantization; ``--train-fraction`` hash-samples
    the trainer), ``query`` serves exact-reranked top-k for a stored
    vector's embedding, ``upsert`` appends / keyed-replaces a batch
    through the KIND-TRUE maintainer (foreign kinds are refused, never
    silently downgraded), ``maintain`` runs the closed recall loop
    (pq / ivf_sq8 / ivf_pq / ivf_bq), ``tune`` commits the smallest
    probe depth meeting a recall target as the manifest's
    ``default_nprobe`` (the operating point later serving calls
    resolve), ``vacuum`` collects crash-orphaned data dirs and
    old manifests.  One JSON status line per action."""
    spark = _spark("vector-index")
    from .pipeline import similarity as sim

    if args.action == "build":
        emb = spark.read.parquet(args.emb)
        build_dim = args.dim if args.dim is not None else 64
        tf = args.train_fraction
        attrs = (spark.read.parquet(args.attrs)
                 if getattr(args, "attrs", None) is not None else None)
        codec = "bq" if args.bq else "pq" if args.pq else "sq8"
        sim.write_index(emb, args.path,
                        f"ivf_{codec}" if args.ivf else codec,
                        dim=build_dim, train_fraction=tf, attrs=attrs)
        n = sim.read_index_codes(spark, args.path).count()
        print(json.dumps({"action": "build", "path": args.path,
                          "ivf": bool(args.ivf), "pq": bool(args.pq),
                          "bq": bool(args.bq), "rows": n}))
        return 0
    if args.action == "query":
        emb = spark.read.parquet(args.emb)
        row = emb.filter(f"vec_id = {int(args.vec_id)}").head()
        if row is None:
            print(json.dumps({"error": f"vec_id {args.vec_id} not in "
                                       f"{args.emb}"}))
            return 2
        qvec = [float(x) for x in row["embedding"]]
        man = sim._index_manifest(spark, args.path)
        kind = man.get("kind", "sq8")
        err = _refuse_where_without_attrs(args.where, man, args.path)
        if err:
            print(json.dumps(err))
            return 2
        res = sim.index_topk(spark, args.path, qvec, emb, k=args.k,
                             nprobe=args.nprobe, dim=args.dim,
                             where=args.where)
        out = [{"rank": r["rank"], "neighbor_id": r["neighbor_id"],
                "cos_sim": r["cos_sim"]}
               for r in res.orderBy("rank").collect()]
        print(json.dumps({"action": "query", "vec_id": int(args.vec_id),
                          "kind": kind, "topk": out}))
        return 0
    if args.action == "query-batch":
        # the production serving shape: a parquet of (query_id,
        # embedding) runs through the layout's BATCH path as ONE
        # distributed plan; ranked results land as parquet at --out
        queries = spark.read.parquet(args.queries)
        emb = spark.read.parquet(args.emb)
        man = sim._index_manifest(spark, args.path)
        kind = man.get("kind", "sq8")
        err = _refuse_where_without_attrs(args.where, man, args.path)
        if err:
            print(json.dumps(err))
            return 2
        res = sim.index_topk_batch(spark, args.path, queries, emb,
                                   k=args.k, nprobe=args.nprobe,
                                   where=args.where)
        res.write.mode("overwrite").parquet(args.out)
        n_q = queries.select("query_id").distinct().count()
        n_r = spark.read.parquet(args.out).count()
        print(json.dumps({"action": "query-batch", "kind": kind,
                          "n_queries": n_q, "n_results": n_r,
                          "out": args.out}))
        return 0
    if args.action == "upsert":
        # kind-TRUE: the upsert encodes and partitions by the kind the
        # manifest records, so a layout can never be downgraded
        batch = spark.read.parquet(args.batch)
        kind = sim._index_manifest(spark, args.path).get("kind", "sq8")
        st = sim.index_upsert(spark, args.path, batch, dim=args.dim)
        if args.auto_compact and st["decision"] in ("appended",
                                                     "replaced"):
            # the streaming maintainer's ops-loop closure, batch form:
            # fold the codes list once it fragments past the threshold
            # (vacuum stays an operator choice)
            n_dirs = len(sim._index_manifest(spark, args.path)
                         .get("codes", []))
            if n_dirs >= args.compact_dirs:
                st["compact"] = sim.compact_index(spark, args.path)
        print(json.dumps({"action": "upsert", "kind": kind, **st}))
        return 0 if st["decision"] not in ("rebuild", "wrong_kind") \
            else 3
    if args.action == "maintain":
        # the closed maintenance loop: upsert + sampled-recall monitor
        # + the kind's rungs (bump_nprobe on IVF, bump_rerank on bq) +
        # rebuild-in-place.  Flat sq8's guard lives in its upsert and
        # flat bq trains nothing, so they have no ladder; classic IVF's
        # is maintain_ivf_index
        kind = sim._index_manifest(spark, args.path).get("kind", "sq8")
        if not sim.INDEX_KINDS[kind].maintainable:
            ladders = sorted(n for n, s in sim.INDEX_KINDS.items()
                             if s.maintainable)
            print(json.dumps({"error": f"maintain drives "
                                       f"{'/'.join(ladders)} indexes; "
                                       f"this one is {kind!r}"}))
            return 2
        batch = spark.read.parquet(args.batch)
        vectors = spark.read.parquet(args.emb)
        st = sim.maintain_index(
            spark, args.path, batch, vectors, k=args.k,
            nprobe=args.nprobe, recall_floor_permille=args.recall_floor,
            train_fraction=args.train_fraction)
        print(json.dumps({"action": "maintain", "kind": kind, **st}))
        # every non-rebuild decision commits (at most) a manifest-only
        # operating point that meets the floor: success
        return 0 if st["decision"] in (
            "ok", "bump_nprobe", "bump_rerank",
            "bump_nprobe_rerank") else 3
    if args.action == "rebalance":
        # targeted skew repair: split the hottest cluster in two
        # (O(hot list), codes unchanged — only list membership moves);
        # exits 0 on balanced/split so cron loops can just re-run it
        vectors = spark.read.parquet(args.emb)
        st = sim.rebalance_index(
            spark, args.path, vectors,
            max_imbalance_permille=args.max_imbalance,
            train_fraction=args.train_fraction)
        print(json.dumps({"action": "rebalance", **st}))
        return 0 if st["decision"] in ("split", "balanced") else 2
    if args.action == "tune":
        # close the observability loop: measure the recall curve, pick
        # the cheapest operating point meeting --target-recall, commit
        # it to the manifest — default_nprobe (IVF kinds) and/or
        # default_rerank_mult (every kind; the flat kinds' one knob) —
        # every later serving call without explicit overrides runs at
        # it
        kind = sim._index_manifest(spark, args.path).get("kind", "sq8")
        grid, err = _parse_grid(args.rerank_mults, kind=kind)
        if err:
            print(json.dumps({"action": "tune", "error": err}))
            return 2
        vectors = spark.read.parquet(args.emb)
        st = sim.tune_index(spark, args.path, vectors, k=args.k,
                            target_recall_permille=args.target_recall,
                            rerank_mults=grid)
        print(json.dumps({"action": "tune", **st}))
        return 0 if st["decision"] in ("tuned", "noop") else 3
    if args.action == "compact":
        st = sim.compact_index(spark, args.path)
        print(json.dumps({"action": "compact", **st}))
        return 0
    if args.action == "stats":
        st = sim.index_stats(spark, args.path)
        print(json.dumps({"action": "stats", **st}))
        return 0
    if args.action == "recall-curve":
        kind = sim._index_manifest(spark, args.path).get("kind", "sq8")
        grid, err = _parse_grid(args.rerank_mults, kind=kind)
        if err:
            print(json.dumps({"action": "recall-curve", "error": err}))
            return 2
        vectors = spark.read.parquet(args.emb)
        rows = sim.index_recall_curve(
            spark, args.path, vectors, k=args.k,
            rerank_mults=grid)
        print(json.dumps({"action": "recall-curve",
                          "path": args.path, "curve": rows}))
        return 0
    st = sim.vacuum_index(spark, args.path, keep_last=args.keep_last)
    print(json.dumps({"action": "vacuum", **st}))
    return 0


def cmd_plan(args: argparse.Namespace) -> int:
    """Print the scale screening (plan_summary) — and optionally the
    full formatted physical plan — of any registered engine query, by
    the same name the driver contract uses.  The pre-deploy check: run
    it before pointing a query at the 100 TB store and read off
    cartesian products, unpushed filters, and unpruned scans."""
    import importlib

    spark = _spark("plan")
    entry = importlib.import_module("__spark_entry__")
    qs = entry.queries()
    if args.query not in qs:
        print(json.dumps({"error": f"unknown query {args.query!r}",
                          "available": sorted(qs)}))
        return 2
    from .plans import executed_plan, plan_summary

    df = qs[args.query](spark, args.sf_dir)
    if args.execute:
        df.count()  # finalize AQE so codegen spans are real
    out = {"query": args.query, "summary": plan_summary(df)}
    print(json.dumps(out))
    if args.full:
        print(executed_plan(df), file=sys.stderr)
    return 0


def build_serve_app(spark, sf_dir: str, precompute_dir: str | None,
                    denorm_path: str | None = None):
    """Wire the full serving stack (analytics + timetable endpoints) —
    separated from ``cmd_serve`` so tests can build the app without
    binding a port.

    ``denorm_path`` serves the timetable endpoints from a doc store on
    disk (the ``denormalize`` subcommand's output) instead of rebuilding
    the ETL in memory at startup.  A ``--bucket-stops`` store then gives
    every point lookup partition pruning (jobs/denormalize.point_read),
    which is the right trade for stores too big to persist: cold-start
    instantly, scan 1/256th per request."""
    from .api.app import TransitAPI
    from .api.http import create_app
    from .jobs.denormalize import denormalize_stop_timetables

    g = _gtfs(spark, sf_dir)
    if denorm_path is not None:
        denorm = spark.read.parquet(denorm_path)
    else:
        denorm = denormalize_stop_timetables(
            g["stop_times"], g["trips"], g["stops"], g["routes"]).persist()
        denorm.count()
    api = TransitAPI(spark, g, precompute_dir=precompute_dir)
    return create_app(api, denorm)


def cmd_vector_pipeline(args: argparse.Namespace) -> int:
    """Raw JSONL corpus -> served ANN results in ONE command — the
    end-to-end recipe wiring the existing pieces: ``read_jsonl_docs``
    (declared schema, PERMISSIVE quarantine split) -> exact-dedup
    keep-first -> ``hash_embeddings`` (feature-hashing text vectors) ->
    an index build (``--kind`` picks the layout — default ivf_sq8;
    training is sampled via ``--train-fraction`` where the kind
    trains) -> one distributed batch-retrieval pass serving the first
    ``--n-queries`` docs' own vectors.  Artifacts land under ``--workdir``: ``docs/``
    ``quarantine/`` ``emb/`` ``index/`` ``results/`` — ``emb/`` is a
    live primary store (feed it to ``vector-index upsert`` /
    ``stream_vector_search`` to keep serving the growing corpus).
    One JSON status line."""
    spark = _spark("vector-pipeline")
    from pyspark.sql import functions as F

    from .pipeline import similarity as sim
    from .pipeline.dedup import exact_dedup
    from .pipeline.text import hash_embeddings
    from .sources.ingest import read_jsonl_docs

    wd = args.workdir
    # land the raw read ONCE, then split: the quarantine filter must not
    # re-scan the JSONL (and a corrupt-only projection is refused by
    # Spark anyway — see read_jsonl_docs)
    raw = read_jsonl_docs(spark, args.docs).localCheckpoint(eager=True)
    raw.filter("_corrupt_record IS NOT NULL") \
        .write.mode("overwrite").parquet(f"{wd}/quarantine")
    n_bad = spark.read.parquet(f"{wd}/quarantine").count()
    clean = raw.filter("_corrupt_record IS NULL").drop("_corrupt_record")
    keep = (exact_dedup(clean).filter("NOT is_duplicate")
            .select("doc_id"))
    clean.join(keep, "doc_id", "left_semi") \
        .write.mode("overwrite").parquet(f"{wd}/docs")
    docs = spark.read.parquet(f"{wd}/docs")
    n_docs = docs.count()

    hash_embeddings(docs, dim=args.dim) \
        .write.mode("overwrite").parquet(f"{wd}/emb")
    emb = spark.read.parquet(f"{wd}/emb")
    kind = args.kind
    sim.write_index(emb, f"{wd}/index", kind, dim=args.dim,
                    train_fraction=args.train_fraction)

    # optional tune step: measure the recall curve and commit the
    # cheapest operating point meeting --target-recall — nprobe for
    # the IVF kinds, rerank depth for the flat kinds (their one
    # quality knob); the serving pass below (and every later
    # query/stream against this index) then runs at the MEASURED
    # operating point instead of a guessed one
    tune = None
    if args.target_recall is not None:
        tune = sim.tune_index(spark, f"{wd}/index", emb, k=args.k,
                              target_recall_permille=args.target_recall)

    queries = (emb.orderBy("vec_id").limit(args.n_queries)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    # nprobe=None on the IVF kinds = the manifest's (possibly just
    # tuned) operating point; an explicit --nprobe still overrides
    sim.index_topk_batch(spark, f"{wd}/index", queries, emb, k=args.k,
                         nprobe=args.nprobe) \
        .write.mode("overwrite").parquet(f"{wd}/results")
    n_results = spark.read.parquet(f"{wd}/results").count()
    print(json.dumps({
        "workdir": wd, "n_docs": n_docs, "n_quarantined": n_bad,
        "index_kind": kind, "dim": args.dim,
        "n_queries": int(args.n_queries), "n_results": n_results,
        **({"tune": {k_: v for k_, v in tune.items()
                     if not isinstance(v, list)}}  # curves stay off
           if tune is not None else {}),
    }))
    return 0


def cmd_hybrid_search(args: argparse.Namespace) -> int:
    """Batched hybrid retrieval from a STORED index — the RAG serving
    command: ``--queries`` is a parquet of ``(query_id,
    terms array<string>, embedding)`` rows, the BM25 arm runs over
    ``--docs`` and the dense arm over the index at ``--path`` (any of
    the six layouts, kind-dispatched), fused per query by integer RRF
    as ONE distributed plan (``hybrid_index_search_batch``).  Ranked
    results land as parquet at ``--out``; ``--allowed`` (a vec_id
    parquet) restricts both arms; ``--where`` (an attrs predicate the
    index stores columns for) restricts both arms by pushdown —
    refused with rc=2 on an attr-less index, exactly as in the
    vector-index serving commands.  One JSON status line."""
    spark = _spark("hybrid-search")
    from .pipeline import similarity as sim
    from .pipeline.text import hybrid_index_search_batch

    man = sim._index_manifest(spark, args.path)
    err = _refuse_where_without_attrs(args.where, man, args.path)
    if err:
        print(json.dumps(err))
        return 2
    docs = spark.read.parquet(args.docs)
    emb = spark.read.parquet(args.emb)
    queries = spark.read.parquet(args.queries)
    allowed = (spark.read.parquet(args.allowed).select("vec_id")
               if args.allowed is not None else None)
    res = hybrid_index_search_batch(
        spark, docs, args.path, emb, queries, k=args.k,
        pool=args.pool, nprobe=args.nprobe, allowed=allowed,
        where=args.where)
    res.write.mode("overwrite").parquet(args.out)
    n_q = queries.select("query_id").distinct().count()
    n_r = spark.read.parquet(args.out).count()
    kind = man.get("kind", "sq8")
    print(json.dumps({"action": "hybrid-search", "kind": kind,
                      "n_queries": n_q, "n_results": n_r,
                      "out": args.out}))
    return 0


def cmd_serve(args: argparse.Namespace) -> int:  # pragma: no cover
    spark = _spark("serve")
    app = build_serve_app(spark, args.sf_dir, args.precompute_dir,
                          denorm_path=args.denorm_path)
    app.run(host=args.host, port=args.port)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m public_transit_data_platform_sql_nosql_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="GTFS text feed -> parquet")
    pi.add_argument("--dataset-dir", required=True)
    pi.add_argument("--out", required=True)
    pi.add_argument("--bucket-by-trip", action="store_true")
    pi.set_defaults(fn=cmd_ingest)

    pd = sub.add_parser("denormalize", help="build the stop doc store")
    pd.add_argument("--sf-dir", required=True)
    pd.add_argument("--out", required=True)
    pd.add_argument("--bucket-stops", action="store_true")
    pd.set_defaults(fn=cmd_denormalize)

    pp = sub.add_parser("precompute", help="materialize q1-q4 result tables")
    pp.add_argument("--sf-dir", required=True)
    pp.add_argument("--out", required=True)
    pp.set_defaults(fn=cmd_precompute)

    pc = sub.add_parser("compact", help="compact an append-mode sink")
    pc.add_argument("--path", required=True)
    pc.add_argument("--target-mb", type=int, default=128)
    pc.set_defaults(fn=cmd_compact)

    pu = sub.add_parser("upsert", help="MERGE a parquet batch into a sink")
    pu.add_argument("--path", required=True, help="sink directory")
    pu.add_argument("--updates", required=True, help="parquet batch to merge")
    pu.add_argument("--key", required=True,
                    help="comma-separated key column(s)")
    pu.add_argument("--partition-col", default=None,
                    help="hive partition column for partition-scoped "
                         "rewrites")
    pu.set_defaults(fn=cmd_upsert)

    pdel = sub.add_parser(
        "delete", help="DELETE rows from a parquet sink (keys or WHERE)")
    pdel.add_argument("--path", required=True, help="sink directory")
    pdel.add_argument("--keys", default=None,
                      help="parquet dir holding the keys to delete")
    pdel.add_argument("--key", default="k",
                      help="comma-separated key column(s) for --keys")
    pdel.add_argument("--where", default=None,
                      help="SQL boolean predicate (retention sweep)")
    pdel.add_argument("--partition-col", default=None)
    pdel.set_defaults(fn=cmd_delete)

    pst = sub.add_parser(
        "stats", help="file-level min/max skipping manifest")
    pst.add_argument("--path", required=True)
    g = pst.add_mutually_exclusive_group(required=True)
    g.add_argument("--build", help="comma-separated columns to profile")
    g.add_argument("--probe", help="col:lo:hi[,col:lo:hi] skip probe")
    pst.set_defaults(fn=cmd_stats)

    pq = sub.add_parser(
        "sql", help="run ad-hoc Spark SQL over the registered views")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pq.add_argument("--limit", type=int, default=100)
    pq.add_argument("sql", help="the SQL text")
    pq.set_defaults(fn=cmd_sql)

    px = sub.add_parser(
        "dedup-index",
        help="build / apply the incremental MinHash dedup index")
    px.add_argument("--path", required=True)
    px.add_argument("--batch", required=True,
                    help="parquet dir of documents (doc_id, text)")
    px.add_argument("--build", action="store_true",
                    help="(re)build the index from --batch")
    px.add_argument("--threshold", type=float, default=0.5)
    px.add_argument("--no-append", action="store_true")
    px.add_argument("--keep-out", default=None,
                    help="append surviving docs to this parquet dir")
    px.set_defaults(fn=cmd_dedup_index)

    psn = sub.add_parser(
        "snapshot",
        help="versioned store: commit / read / vacuum / list snapshots")
    psn.add_argument("--path", required=True)
    psn.add_argument("--commit", default=None,
                     help="parquet dir to commit as the next version")
    psn.add_argument("--append", action="store_true",
                     help="append to the previous snapshot instead of "
                          "replacing it")
    psn.add_argument("--read", type=int, default=None,
                     help="print row count of a version (-1 = latest)")
    psn.add_argument("--vacuum-keep", type=int, default=None,
                     help="vacuum, keeping this many latest versions")
    psn.set_defaults(fn=cmd_snapshot)

    pt = sub.add_parser(
        "tokenizer-train",
        help="learn a BPE merge table from a documents parquet")
    pt.add_argument("--docs", required=True,
                    help="parquet dir of documents (doc_id, text)")
    pt.add_argument("--n-merges", type=int, default=64)
    pt.add_argument("--out", default=None,
                    help="write the merge table as JSON here")
    pt.set_defaults(fn=cmd_tokenizer_train)

    pw = sub.add_parser(
        "web-curate",
        help="blocklist -> URL keep-one -> domain cap over a docs "
             "parquet with a url column")
    pw.add_argument("--docs", required=True,
                    help="parquet dir of documents (doc_id, url, ...)")
    pw.add_argument("--out", required=True)
    pw.add_argument("--block", action="append", default=None,
                    help="blocked domain (dot-suffix match); repeatable")
    pw.add_argument("--cap", type=int, default=None,
                    help="max docs per registrable domain")
    pw.set_defaults(fn=cmd_web_curate)

    pv = sub.add_parser(
        "vector-index",
        help="build/query/upsert/maintain/tune/stats/recall-curve/"
             "vacuum a manifest-committed "
             "ANN index (sq8 / ivf_sq8 / pq / ivf_pq / bq / ivf_bq "
             "— ops dispatch by the manifest's kind)")
    pv.add_argument("action",
                    choices=("build", "query", "query-batch", "upsert",
                             "maintain", "tune", "rebalance",
                             "compact", "vacuum",
                             "stats", "recall-curve"))
    pv.add_argument("--queries",
                    help="query-batch: parquet of (query_id, embedding)")
    pv.add_argument("--out",
                    help="query-batch: output parquet for ranked results")
    pv.add_argument("--path", required=True,
                    help="index root (manifest-versioned)")
    pv.add_argument("--emb", help="primary vector parquet "
                                  "(vec_id, embedding)")
    pv.add_argument("--batch", help="upsert batch parquet")
    pv.add_argument("--attrs", default=None,
                    help="build: (vec_id, <scalar cols>) parquet of "
                         "filterable attributes stored WITH the codes "
                         "— --where then pushes predicates to the "
                         "codes scan on every kind")
    pv.add_argument("--ivf", action="store_true",
                    help="build: compose k-means partition pruning")
    pv.add_argument("--pq", action="store_true",
                    help="build: product quantization (m-byte codes); "
                         "with --ivf: IVF x PQ (cluster-pruned m-byte "
                         "codes)")
    pv.add_argument("--bq", action="store_true",
                    help="build: binary quantization (one sign bit per "
                         "dim, 8-byte codes, Hamming pre-filter; "
                         "nothing trains); with --ivf: IVF x BQ "
                         "(cluster-pruned sign codes)")
    pv.add_argument("--train-fraction", type=float, default=1.0,
                    help="build/maintain (--ivf/--pq): hash-sample "
                         "fraction for centroid/codebook training "
                         "(maintain forwards it to a rebuild); "
                         "assignment and encoding always cover every "
                         "vector")
    pv.add_argument("--dim", type=int, default=None,
                    help="build: vector dim (default 64); query/upsert "
                         "resolve dim from the index manifest and only "
                         "ASSERT a passed value")
    pv.add_argument("--vec-id", type=int, default=0,
                    help="query: id whose stored embedding is the query")
    pv.add_argument("--k", type=int, default=10)
    pv.add_argument("--nprobe", type=int, default=None,
                    help="probe depth; default None = the manifest's "
                         "tuned default_nprobe (see `tune`), falling "
                         "back to 2 on an untuned index")
    pv.add_argument("--target-recall", type=int, default=950,
                    help="tune: min sampled recall permille the "
                         "committed operating point must meet")
    pv.add_argument("--rerank-mults", default=None,
                    help="tune/recall-curve: comma-separated rerank "
                         "depth grid (default: the geometric ladder "
                         "to the corpus-covering depth; empty string "
                         "pins the IVF second rung off)")
    pv.add_argument("--where", default=None,
                    help="query/query-batch (every kind): SQL predicate "
                         "over the index's stored attribute columns — "
                         "pushed to the codes scan as a parquet "
                         "filter; refused (exit 2) when the index "
                         "stores no attrs")
    pv.add_argument("--max-imbalance", type=int, default=2000,
                    help="rebalance: split the hottest cluster when "
                         "max/mean list size exceeds this permille")
    pv.add_argument("--keep-last", type=int, default=2)
    pv.add_argument("--recall-floor", type=int, default=600,
                    help="maintain: min sampled recall permille")
    pv.add_argument("--auto-compact", action="store_true",
                    help="upsert: fold the codes dirs when the "
                         "manifest fragments past --compact-dirs "
                         "(the streaming maintainer's auto_compact, "
                         "batch form)")
    pv.add_argument("--compact-dirs", type=int, default=8,
                    help="upsert --auto-compact threshold")
    pv.set_defaults(fn=cmd_vector_index)

    pvp = sub.add_parser(
        "vector-pipeline",
        help="JSONL corpus -> quarantine/dedup -> hash embeddings -> "
             "ANN index (--kind) -> batch ANN results, in one command")
    pvp.add_argument("--docs", required=True,
                     help="JSONL path/glob (doc_id, text, lang, source, "
                          "n_chars per line)")
    pvp.add_argument("--workdir", required=True,
                     help="output root (docs/ quarantine/ emb/ index/ "
                          "results/)")
    pvp.add_argument("--dim", type=int, default=64)
    pvp.add_argument("--k", type=int, default=5)
    pvp.add_argument("--nprobe", type=int, default=None,
                     help="probe depth; default None = the index's "
                          "default_nprobe (set by --target-recall)")
    pvp.add_argument("--target-recall", type=int, default=None,
                     help="IVF kinds: tune_index after the build — "
                          "commit the smallest nprobe whose MIN "
                          "sampled recall meets this permille as the "
                          "serving default")
    pvp.add_argument("--n-queries", type=int, default=3)
    pvp.add_argument("--train-fraction", type=float, default=1.0)
    pvp.add_argument("--kind", default="ivf_sq8",
                     choices=("sq8", "ivf_sq8", "pq", "ivf_pq", "bq",
                              "ivf_bq"),
                     help="index layout for the end-to-end pipeline")
    pvp.set_defaults(fn=cmd_vector_pipeline)

    ph = sub.add_parser(
        "hybrid-search",
        help="batched hybrid retrieval: BM25 over --docs + dense arm "
             "from the stored index, per-query RRF fusion")
    ph.add_argument("--docs", required=True,
                    help="documents parquet (doc_id, text, ...)")
    ph.add_argument("--emb", required=True,
                    help="primary vector store parquet (vec_id, "
                         "embedding) for the exact rerank")
    ph.add_argument("--path", required=True, help="stored index root")
    ph.add_argument("--queries", required=True,
                    help="parquet of (query_id, terms array<string>, "
                         "embedding)")
    ph.add_argument("--out", required=True, help="results parquet dir")
    ph.add_argument("--k", type=int, default=20)
    ph.add_argument("--pool", type=int, default=50)
    ph.add_argument("--nprobe", type=int, default=None)
    ph.add_argument("--allowed", default=None,
                    help="optional vec_id parquet restricting BOTH arms")
    ph.add_argument("--where", default=None,
                    help="attrs predicate restricting BOTH arms by "
                         "pushdown (requires an attrs-bearing index; "
                         "refused otherwise)")
    ph.set_defaults(fn=cmd_hybrid_search)

    pl = sub.add_parser(
        "plan", help="scale-screen a query's physical plan")
    pl.add_argument("--query", required=True,
                    help="driver-contract query name (e.g. q1_busiest_stops)")
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pl.add_argument("--execute", action="store_true",
                    help="run the query first so AQE finalizes the plan")
    pl.add_argument("--full", action="store_true",
                    help="also print the formatted plan to stderr")
    pl.set_defaults(fn=cmd_plan)

    ps = sub.add_parser("serve", help="run the HTTP API")
    ps.add_argument("--sf-dir", required=True)
    ps.add_argument("--precompute-dir", default=None)
    ps.add_argument("--denorm-path", default=None,
                    help="serve timetables from a denormalize output dir "
                         "(bucketed stores get pruned point lookups)")
    ps.add_argument("--host", default="127.0.0.1")
    ps.add_argument("--port", type=int, default=5000)
    ps.set_defaults(fn=cmd_serve)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
