"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --workload serve_live --seed 1 --seconds 20 \\
        --trace 0

Run from the repository root: the program under test is imported from
the current directory.  The run generates its fixed fixture and its
seeded inputs, keeps every file it writes (fixture, doc store, index,
Spark local dirs) under ``.perfbench_work/`` in the current directory
and deletes it at exit; the full record, with the spans of a traced run,
goes to ``.perfbench_out/``.  The last line of standard output is the
result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T_ORIGIN = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "public_transit_data_platform_sql_nosql_spark"

# name -> unit; BENCHMARK.json lists the same names with their direction
END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms",
              "throughput_rps": "1/s"}

_API = [f"api.{e}.{k}" for e in ("q1", "q2", "q3", "q4", "timetable",
                                 "routes", "arrivals", "arrivals_flat",
                                 "nearby", "stops")
        for k in ("ms", "spark_ms", "self_ms", "jobs", "tasks")]
PER_LAYER = {
    "session.start_ms": "ms", "sources.views_ms": "ms",
    "window.latency_p50_ms": "ms", "window.throughput_rps": "1/s",
    "window.cpu_ms_per_request": "ms",
    "trace.overhead_ms": "ms", "ops": "count",
    "cache_mb": "MiB",
    **{n: ("count" if n.endswith(("jobs", "tasks")) else "ms")
       for n in _API},
    "api.analytics_p50_ms": "ms", "api.lookup_p50_ms": "ms",
    "api.response_bytes": "B", "api.cached_blocks": "count",
    "api.failed_tasks": "count",
    **{f"queries.{q}.plan_ms": "ms"
       for q in ("q1", "q2", "q3", "q4", "timetable", "geo")},
    "jobs.denormalize_ms": "ms",
    "jobs.write_store_ms": "ms", "jobs.write_store.jobs": "count",
    "jobs.write_store.tasks": "count",
    "jobs.upsert_ms": "ms", "jobs.upsert.jobs": "count",
    "jobs.upsert.tasks": "count",
    "jobs.files_written": "count", "jobs.bytes_written": "B",
    "jobs.store_bytes_ratio": "ratio", "jobs.failed_tasks": "count",
    "pipeline.dedup_clusters_ms": "ms", "pipeline.dedup_clusters.jobs":
    "count", "pipeline.dedup_clusters.tasks": "count",
    "pipeline.training_chunks_ms": "ms",
    "pipeline.training_chunks.jobs": "count",
    "pipeline.training_chunks.tasks": "count",
    "pipeline.index_build_ms": "ms", "pipeline.index_build.jobs": "count",
    "pipeline.index_build.tasks": "count", "pipeline.index_bytes": "B",
    "pipeline.bm25_ms": "ms", "pipeline.bm25.jobs": "count",
    "pipeline.bm25.tasks": "count", "pipeline.index_serve_ms": "ms",
    "pipeline.index_serve.jobs": "count",
    "pipeline.index_serve.tasks": "count",
    "pipeline.recall10_permille": "permille",
    "pipeline.leaked_blocks": "count", "pipeline.failed_tasks": "count",
}


def _isolate(work: str) -> None:
    """Point every temp location of Python, the JVM and Spark into the
    run's work directory, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit.  The gateway JVM exits
    when its standard input closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_from_spans(ctx) -> None:
    from perfbench.stats import median
    from perfbench.trace import self_times

    spans = ctx.tracer.spans
    for metric, name in (("sources.views_ms", "bench.views"),
                         ("jobs.denormalize_ms", "bench.denormalize")):
        xs = [(s.end - s.start) * 1e3 for s in spans if s.name == name]
        ctx.layer[metric] = median(xs) if xs else 0.0
    ctx.layer["session.start_ms"] = ctx.session_start_s * 1e3
    selfs = self_times(spans)
    ctx.record["self_ms_by_span"] = {}
    for s in spans:
        d = ctx.record["self_ms_by_span"]
        d[s.name] = d.get(s.name, 0.0) + selfs[s.id] * 1e3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ in {ROOT}; run from the repository "
              "root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import fixture, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _isolate(work)
    spark = None
    ctx = None
    error = None
    try:
        sf_dir = os.path.join(work, "sf")
        rows = fixture.write(sf_dir)
        tracer = trace.Tracer()
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        if args.trace:
            tracer.install(PKG, DataFrame, DataFrameWriter)
            tracer.enabled = True
        session = importlib.import_module(f"{PKG}.session")
        cores = min(4, os.cpu_count() or 1)
        t0 = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}",
                                  master=f"local[{cores}]",
                                  shuffle_partitions=cores)
        spark.sparkContext.setLogLevel("ERROR")
        started = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, tracer, bool(args.trace), args.seed,
                            args.seconds, sf_dir, work, started, T_ORIGIN)
        ctx.mark("session")
        ctx.record["fixture_rows"] = rows
        ctx.record["cores"] = cores
        workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            _layer_from_spans(ctx)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if spark is not None:
            _stop(spark)
        if ctx is not None:
            ctx.mark("stop")
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    names = PER_LAYER if args.trace else END_TO_END
    source = {} if ctx is None else (ctx.layer if args.trace else ctx.e2e)
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u}
               for n, u in names.items()}
    attempted = max(ctx.attempted if ctx else 0, 1)
    failed = (ctx.failed if ctx else 0) + (error is not None)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "error": error, "failures": ctx.failures[:50] if ctx else [],
        "e2e": ctx.e2e if ctx else {}, "layer": ctx.layer if ctx else {},
        "record": ctx.record if ctx else {},
    }
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if ctx is not None and args.trace:
        with open(base + "-spans.jsonl", "w") as f:
            for s in ctx.tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
    # a layer the workload does not run reads 0; an end-to-end metric
    # must be measured
    missing = [] if args.trace else [n for n in names if n not in source]
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    correct = error is None and failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main())
