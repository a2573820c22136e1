"""The benchmark's workloads.  Each runs in its own process over the
fixed fixture: a cold set-up, a warm-up, more set-ups (the median of all
is reported), the timed closed-loop window, then output checks outside
the timed parts.  Traced runs add the batch steps that run once per
process and the per-layer breakdown.

- ``serve_live``: the reference's SQL-backed JSON API —
  ``create_app(TransitAPI(precompute_dir=None), denorm.persist())`` —
  under a fixed analytics/lookup mix.  Traced runs also write the doc
  store the stored serving path reads and upsert a seeded sample into it.
- ``pipeline_batch``: seeded BM25 searches over ``docs_aug``.  Traced runs
  also run the ``training_chunks`` composition, an ``ivf_sq8`` index
  build and 16-query ANN batches.  It touches no ``api/`` or ``jobs/``
  code, so each workload is the other's bypass.
"""

from __future__ import annotations

import gc
import itertools
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from . import checks, fixture, inputs, trace
from .stats import median, tail, tail_percentile

PKG = "public_transit_data_platform_sql_nosql_spark"
CLIENTS = 2          # closed-loop client threads
SETUP_REPS = 4       # set-ups per run; setup_s reports their median
# closed-loop warm-up after the cold set-up.  The JVM keeps compiling hot
# code for minutes of traffic (CPU per request halves over the first
# ~90 s), longer than a run can afford, so the warm-up is a fixed number
# of requests rather than a time: every run starts its window after the
# same amount of work, however fast the host runs it
WARM_OPS = 12
WARM_MAX_SECONDS = 20
UPSERT_STOPS = 8     # stops whose current docs the upsert batch re-issues
ANN_BATCH = 16       # queries per ANN batch
ANN_K = 10
MIN_RECALL_PERMILLE = 600
BM25_TOP_K = 20
BM25_ORACLE_CHECKS = 3  # distinct searches of a run checked by DuckDB


@dataclass
class Ctx:
    spark: object
    tracer: trace.Tracer
    traced: bool
    seed: int
    seconds: float
    sf_dir: str
    work: str
    session_start_s: float
    t_origin: float
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    rids: object = field(default_factory=itertools.count)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the process
        started (the run's timeline, for sizing and diagnosis)."""
        self.record.setdefault("phases", []).append(
            (phase, round(time.perf_counter() - self.t_origin, 2)))

    def check(self, msg: str | None) -> None:
        """Count one output check; ``msg`` describes a failed one."""
        self.attempted += 1
        if msg is not None:
            self.failed += 1
            self.failures.append(msg)


@dataclass
class Done:
    rid: int
    op: object
    status: int
    body: object
    t0: float
    t1: float
    counts: trace.JobCount | None


def closed_loop(ctx: Ctx, do_op, ops: list, nxt, seconds: float,
                traced: bool, limit: int | None = None
                ) -> tuple[list[Done], float]:
    """``CLIENTS`` threads each run the next op of ``ops`` (the index
    drawn from the shared counter ``nxt``, so consecutive windows go on
    where the last one stopped) as soon as their previous one returns,
    until ``seconds`` have passed or ``limit`` ops were started; returns
    the completed ops and the window's wall time.  An untraced window
    runs with the tracer's wrappers taken out."""
    sc = ctx.spark.sparkContext
    ctx.tracer.attach(traced)
    ctx.tracer.enabled = traced
    lock = threading.Lock()
    done: list[Done] = []
    errors: list[BaseException] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client():
        try:
            while time.perf_counter() < deadline:
                i = next(nxt)
                if limit is not None and i >= limit:
                    break
                op = ops[i % len(ops)]
                rid = next(ctx.rids)
                counts = None
                if traced:
                    ctx.tracer.set_request(rid)
                    with trace.job_group(sc, "req") as counts:
                        with ctx.tracer.span(f"req.{op.endpoint}"):
                            t0 = time.perf_counter()
                            status, body = do_op(op)
                            t1 = time.perf_counter()
                else:
                    t0 = time.perf_counter()
                    status, body = do_op(op)
                    t1 = time.perf_counter()
                with lock:
                    done.append(Done(rid, op, status, body, t0, t1, counts))
        except BaseException as e:  # recorded and re-raised by the caller
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ctx.tracer.attach(ctx.traced)
    ctx.tracer.enabled = ctx.traced
    ctx.tracer.set_request(None)
    if errors:
        raise errors[0]
    wall = max(d.t1 for d in done) - start if done else seconds
    return done, wall


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of process ``root`` (this process by
    default) and every live process below it: the Python driver and the
    Spark JVM it launched."""
    root = os.getpid() if root is None else root
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # after the command name: state, ppid, ... with utime and
            # stime at 11 and 12 (fields 14 and 15 of proc(5))
            stats[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / tick


def steal_s() -> float:
    """Seconds the machine's CPUs spent stolen by the host so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def warm_up(ctx: Ctx, do_op, ops: list) -> None:
    """Run the first ``WARM_OPS`` of ``ops``, untimed and unchecked (or
    as many as ``WARM_MAX_SECONDS`` allow); the ops are the same in every
    run, so every run starts its window equally warm."""
    done, wall = closed_loop(ctx, do_op, ops, itertools.count(),
                             WARM_MAX_SECONDS, False, limit=WARM_OPS)
    ctx.record["warmup"] = {"ops": len(done), "seconds": wall}
    ctx.mark("warmup")


def window(ctx: Ctx, do_op, ops: list) -> list[Done]:
    """The timed window.  Untraced runs report the median latency and the
    throughput over ``--seconds``; the CPU time per request and the CPU
    time the host stole go to the run record.  Traced runs trace half of
    ``--seconds`` between two untraced quarters (wrappers taken out), all
    drawing from one running sequence of ``ops``; the untraced quarters
    give the per-layer ``window.*`` figures, and the traced minus the
    untraced median latency is the tracing overhead.  The mirrored order
    cancels a steady warm-up trend."""
    nxt = itertools.count()
    if not ctx.traced:
        cpu0, steal0 = tree_cpu_s(), steal_s()
        done, wall = closed_loop(ctx, do_op, ops, nxt, ctx.seconds, False)
        cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
        lat = [(d.t1 - d.t0) * 1e3 for d in done]
        ctx.e2e["latency_p50_ms"] = median(lat)
        ctx.e2e["throughput_rps"] = len(done) / wall
        q = tail_percentile(len(lat))
        ctx.record.update({
            "latencies_ms": lat,
            "latency_tail": {"samples": len(lat), "percentile": q,
                             "ms": tail(lat, q) if q else None},
            "cpu_ms_per_request": cpu * 1e3 / len(done),
            "window_steal_s": steal})
        by_op: dict[str, list[float]] = {}
        for d, ms in zip(done, lat):
            by_op.setdefault(d.op.endpoint, []).append(ms)
        ctx.record["op_p50_ms"] = {k: (len(v), median(v))
                                   for k, v in sorted(by_op.items())}
        return done
    parts: dict[bool, list[Done]] = {False: [], True: []}
    plain_wall = plain_cpu = 0.0
    for traced, share in ((False, 0.25), (True, 0.5), (False, 0.25)):
        cpu0 = tree_cpu_s()
        done, wall = closed_loop(ctx, do_op, ops, nxt, ctx.seconds * share,
                                 traced)
        parts[traced] += done
        if not traced:
            plain_wall += wall
            plain_cpu += tree_cpu_s() - cpu0
    plain = [(d.t1 - d.t0) * 1e3 for d in parts[False]]
    ctx.layer["ops"] = float(len(parts[True]))
    ctx.layer["window.latency_p50_ms"] = median(plain)
    ctx.layer["window.throughput_rps"] = len(plain) / plain_wall
    ctx.layer["window.cpu_ms_per_request"] = plain_cpu * 1e3 / len(plain)
    ctx.layer["trace.overhead_ms"] = median(
        [(d.t1 - d.t0) * 1e3 for d in parts[True]]) - median(plain)
    return parts[False] + parts[True]


def setup(ctx: Ctx, build, teardown, warm) -> object:
    """Build the workload ``SETUP_REPS`` times (``teardown`` between
    builds) and report the median build time; returns the last build.
    The first build is cold; ``warm`` then serves traffic on it, so the
    other builds are timed, each after a full garbage collection, in a
    process as warm as the timed window's, where the build time has
    levelled off.  The session start happens once per process, so it is
    the per-layer ``session.start_ms``."""
    times = []
    out = None
    for i in range(SETUP_REPS):
        if out is not None:
            teardown(out)
            # a build is not charged for the garbage of the one before
            # it or of the warm-up traffic
            gc.collect()
            ctx.spark._jvm.System.gc()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.setup"):
            out = build()
        times.append(time.perf_counter() - t0)
        if i == 0:
            warm(out)
    ctx.e2e["setup_s"] = median(times)
    ctx.record["setup_reps_s"] = times
    ctx.mark("setup")
    return out


def step(ctx: Ctx, layer: str, name: str, thunk):
    """Run one batch step, recording its time, its Spark jobs and tasks
    and the persisted RDDs it leaves behind; returns its result."""
    spark = ctx.spark
    blocks = persisted_rdds(spark)
    t0 = time.perf_counter()
    with trace.job_group(spark.sparkContext, name) as jc, \
            ctx.tracer.span(f"bench.{name}"):
        out = thunk()
    dt = time.perf_counter() - t0
    ctx.layer[f"{layer}.{name}_ms"] = dt * 1e3
    ctx.layer[f"{layer}.{name}.jobs"] = float(jc.jobs)
    ctx.layer[f"{layer}.{name}.tasks"] = float(jc.tasks)
    for key, v in (("failed_tasks", jc.failed_tasks),
                   ("leaked_blocks", persisted_rdds(spark) - blocks)):
        ctx.layer[f"{layer}.{key}"] = ctx.layer.get(f"{layer}.{key}", 0.0) + v
    return out


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# -- serve_live ------------------------------------------------------------


def serve_live(ctx: Ctx) -> None:
    import importlib

    adapter = importlib.import_module(f"{PKG}.sources.tpch_adapter")
    denorm_mod = importlib.import_module(f"{PKG}.jobs.denormalize")
    app_mod = importlib.import_module(f"{PKG}.api.app")
    http = importlib.import_module(f"{PKG}.api.http")
    spark = ctx.spark

    def build():
        with ctx.tracer.span("bench.views"):
            g = adapter.register_gtfs_views(spark, ctx.sf_dir)
        with ctx.tracer.span("bench.denormalize"):
            denorm = denorm_mod.denormalize_stop_timetables(
                g["stop_times"], g["trips"], g["stops"], g["routes"]
            ).persist()
            denorm.count()
        api = app_mod.TransitAPI(spark, g, precompute_dir=None)
        return denorm, api, http.create_app(api, denorm)

    def teardown(out):
        out[1].refresh()
        out[0].unpersist()

    serving = {}
    clients = threading.local()

    def do_op(req):
        app = serving["app"]
        c = getattr(clients, "c", None)
        if c is None or c.application is not app:
            c = clients.c = app.test_client()
        resp = c.get(req.url)
        return resp.status_code, resp.get_data()

    # a traced run draws every endpoint once per round, so each endpoint's
    # per-layer figures have samples; untraced runs draw the fixed mix
    block = inputs.ENDPOINTS if ctx.traced else inputs.BLOCK

    def warm(out):
        serving["app"] = out[2]
        warm_up(ctx, do_op, inputs.request_stream(inputs.WARMUP_SEED, 400,
                                                  block))

    denorm, api, app = setup(ctx, build, teardown, warm)
    serving["app"] = app
    # the last build's TransitAPI makes its q2/q4 caches on first use
    for r in inputs.request_stream(inputs.WARMUP_SEED, len(inputs.ENDPOINTS),
                                   inputs.ENDPOINTS):
        if r.endpoint in ("q2", "q4"):
            do_op(r)
    reqs = inputs.request_stream(ctx.seed, 4000, block)
    done = window(ctx, do_op, reqs)
    ctx.mark("window")
    ctx.record["inputs"] = inputs.stream_properties(
        [d.op for d in done if d.counts is None])
    ctx.record["inputs"]["cache_mb"] = cached_mb(spark)
    ctx.layer["cache_mb"] = cached_mb(spark)
    ctx.layer["api.cached_blocks"] = persisted_rdds(spark)

    # -- checks (outside the timed parts) --
    ctx.tracer.enabled = False
    for d in done:
        ctx.check(None if checks.response_ok(d.op, d.status, d.body)
                  else f"{d.op.url}: status {d.status}")
    _oracle_checks_live(ctx, denorm, app)
    ctx.mark("checks")
    if ctx.traced:
        ctx.tracer.enabled = True
        _doc_store_batch(ctx, denorm, api, app)
        _api_layers(ctx, done)


def _doc_store_batch(ctx: Ctx, denorm, api, app) -> None:
    """The jobs layer's write path, run in traced runs only: write the doc
    store the stored serving path reads, upsert the current docs of a
    seeded stop sample into it, then check the store still equals the
    persisted frame and serves the same bodies."""
    import importlib

    from pyspark.sql import functions as F

    denorm_mod = importlib.import_module(f"{PKG}.jobs.denormalize")
    upsert_mod = importlib.import_module(f"{PKG}.jobs.upsert")
    http = importlib.import_module(f"{PKG}.api.http")
    spark = ctx.spark
    store = f"{ctx.work}/doc_store"
    rng = np.random.default_rng([ctx.seed, 0x5705])
    sample = [str(s) for s in rng.choice(fixture.N_STOPS, UPSERT_STOPS,
                                         replace=False)]
    step(ctx, "jobs", "write_store",
         lambda: denorm_mod.write_stop_timetables(denorm, store))
    stored = spark.read.parquet(store)
    batch = spark.createDataFrame(
        stored.filter(F.col("stop_id").isin(sample)).collect(), stored.schema)
    step(ctx, "jobs", "upsert", lambda: upsert_mod.upsert_parquet_dir(
        spark, store, batch, ["stop_id"]))
    ctx.record["upsert_rows"] = len(sample)
    _store_layout(ctx, store)

    ctx.tracer.enabled = False
    stored = spark.read.parquet(store)
    ctx.check(None if checks.digest(*checks.spark_rows(stored))
              == checks.digest(*checks.spark_rows(denorm)) else
              "doc store after an upsert of current docs differs from the "
              "persisted frame")
    c_mem = app.test_client()
    c_disk = http.create_app(api, stored).test_client()
    for path in ("/get_timetable", "/get_routes_for_stop", "/get_arrivals"):
        url = f"{path}?stop_id={sample[0]}"
        a, b = c_mem.get(url), c_disk.get(url)
        ctx.check(None if (a.status_code, a.get_json())
                  == (b.status_code, b.get_json()) else
                  f"{url}: persisted and on-disk store disagree")


def _store_layout(ctx: Ctx, store: str) -> None:
    files = size = 0
    for root, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    src = sum(os.path.getsize(f"{ctx.sf_dir}/{t}.parquet")
              for t in ("part", "nation", "orders", "lineitem"))
    ctx.layer["jobs.files_written"] = float(files)
    ctx.layer["jobs.bytes_written"] = float(size)
    ctx.layer["jobs.store_bytes_ratio"] = size / src
    ctx.record["store_mb"] = size / 2**20


def _oracle_checks_live(ctx: Ctx, denorm, app) -> None:
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("part", "nation", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{ctx.sf_dir}/{t}.parquet'")
        deps = F.transform("upcoming_services", lambda x: x["departure_time"])
        got = denorm.select(
            "stop_id",
            F.size("upcoming_services").cast("long").alias("n_services"),
            F.array_min(deps).alias("first_departure"),
            F.array_max(deps).alias("last_departure"))
        ctx.check(checks.mismatch(
            "denormalize_check", *checks.spark_rows(got),
            *checks.duckdb_rows(con, oracles["denormalize_check"])))
        cols, rows = checks.duckdb_rows(con, oracles["q1_busiest_stops"])
        want = [(r[cols.index("stop_id")], r[cols.index("total_trip_events")],
                 r[cols.index("num_unique_routes")]) for r in rows]
        items = app.test_client().get("/api/q1?limit=50").get_json()["items"]
        got_q1 = [(i["stop_id"], i["total_trip_events"],
                   i["num_unique_routes"]) for i in items]
        ctx.check(None if got_q1 == want else
                  "/api/q1?limit=50 differs from the q1_busiest_stops oracle")
    finally:
        con.close()


# queries/ function span -> the query whose plan it builds
_QUERY_OF = {
    "q1_busiest_stops": "q1", "q2_duration_speed": "q2",
    "common.trip_stats": "q2", "q3_transfer_points": "q3",
    "q4_hourly_frequency": "q4", "common.hourly_frequency": "q4",
    "timetable": "timetable", "geo": "geo",
}


def _api_layers(ctx: Ctx, done: list[Done]) -> None:
    spans = ctx.tracer.spans
    kids = trace.children(spans)
    selfs = trace.self_times(spans)
    traced = [d for d in done if d.counts is not None]
    req_spans = {s.rid: s for s in spans if s.name.startswith("req.")}
    per: dict[str, dict[str, list[float]]] = {}
    plan: dict[str, list[float]] = {}
    failed = 0
    for d in traced:
        sp = req_spans[d.rid]
        ms = (d.t1 - d.t0) * 1e3
        spark_ms = trace.spark_time(sp, kids) * 1e3
        e = per.setdefault(d.op.endpoint, {k: [] for k in (
            "ms", "spark_ms", "self_ms", "jobs", "tasks")})
        e["ms"].append(ms)
        e["spark_ms"].append(spark_ms)
        e["self_ms"].append(ms - spark_ms)
        e["jobs"].append(d.counts.jobs)
        e["tasks"].append(d.counts.tasks)
        failed += d.counts.failed_tasks
        by_q: dict[str, float] = {}
        for s in trace.descendants(sp, kids):
            parts = s.name.split(".")
            q = (parts[0] == "queries" and (
                _QUERY_OF.get(parts[1])
                or _QUERY_OF.get(".".join(parts[1:3]))))
            if q:
                by_q[q] = by_q.get(q, 0.0) + selfs[s.id] * 1e3
        for q, v in by_q.items():
            plan.setdefault(q, []).append(v)
    for e in inputs.ENDPOINTS:
        vals = per.get(e)
        for k in ("ms", "spark_ms", "self_ms", "jobs", "tasks"):
            ctx.layer[f"api.{e}.{k}"] = median(vals[k]) if vals else 0.0
    for q in ("q1", "q2", "q3", "q4", "timetable", "geo"):
        ctx.layer[f"queries.{q}.plan_ms"] = (median(plan[q]) if q in plan
                                             else 0.0)
    ctx.layer["api.failed_tasks"] = float(failed)
    ctx.layer["api.response_bytes"] = median(
        [len(d.body) for d in traced]) if traced else 0.0
    plain = [d for d in done if d.counts is None]
    ana = [(d.t1 - d.t0) * 1e3 for d in plain
           if d.op.endpoint in inputs.ANALYTICS]
    look = [(d.t1 - d.t0) * 1e3 for d in plain
            if d.op.endpoint in inputs.LOOKUPS]
    ctx.layer["api.analytics_p50_ms"] = median(ana) if ana else 0.0
    ctx.layer["api.lookup_p50_ms"] = median(look) if look else 0.0


# -- pipeline_batch --------------------------------------------------------

ANN_BATCHES = 2      # ANN batches served (and recall-checked) per traced run


@dataclass(frozen=True)
class Search:
    terms: tuple
    endpoint: str = "bm25"


@dataclass(frozen=True)
class AnnBatch:
    query_ids: tuple


def ann_batches(seed: int, n: int) -> list[AnnBatch]:
    """``n`` seeded batches of ``ANN_BATCH`` query ids, drawn from a pool
    of ``4 * ANN_BATCH`` ids so batches overlap like repeated traffic."""
    pool = inputs.ann_query_ids(seed, 4 * ANN_BATCH)
    rng = np.random.default_rng([seed, 0x0B5])
    return [AnnBatch(tuple(sorted(int(i) for i in rng.choice(
        pool, ANN_BATCH, replace=False)))) for _ in range(n)]


def exact_topk(emb: np.ndarray, ids: list[int], k: int) -> dict[int, set]:
    """Exact cosine top-``k`` neighbours of each id (itself excluded)."""
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    out = {}
    for q in ids:
        sims = unit @ unit[q]
        sims[q] = -np.inf
        out[q] = set(np.argsort(-sims, kind="stable")[:k].tolist())
    return out


def pipeline_batch(ctx: Ctx) -> None:
    import importlib

    source = importlib.import_module(f"{PKG}.pipeline.source")
    text = importlib.import_module(f"{PKG}.pipeline.text")
    spark = ctx.spark

    def build():
        with ctx.tracer.span("bench.views"):
            return source.register_pipeline_views(spark, ctx.sf_dir)

    current = {}

    def do_op(op):
        return 200, text.search_bm25(current["aug"], list(op.terms),
                                     top_k=BM25_TOP_K).collect()

    def warm(views):
        current["aug"] = views["docs_aug"]
        warm_up(ctx, do_op, [Search(tuple(t)) for t in
                             inputs.bm25_terms(inputs.WARMUP_SEED, 400)])

    views = setup(ctx, build, lambda _: None, warm)
    aug = current["aug"] = views["docs_aug"]
    ops = [Search(tuple(t)) for t in inputs.bm25_terms(ctx.seed, 1000)]
    done = window(ctx, do_op, ops)
    ctx.mark("window")
    ctx.record["inputs"] = {
        "ops": len(done),
        "repeat_share": 1 - len({d.op for d in done}) / len(done),
        "docs": fixture.N_DOCS, "vectors": fixture.N_VECS,
        "cache_mb": cached_mb(spark)}
    ctx.layer["cache_mb"] = cached_mb(spark)

    # -- checks (outside the timed parts) --
    ctx.tracer.enabled = False
    for d in done:
        ctx.check(None if len(d.body) == BM25_TOP_K else
                  f"bm25 {d.op.terms} returned {len(d.body)} rows")
    checked = sorted({d.op.terms for d in done})[:BM25_ORACLE_CHECKS]
    _pipeline_oracles(ctx, [
        (f"bm25 {t}", ["doc_id", "n_terms_hit", "score_micro"],
         [tuple(r) for r in next(d.body for d in done if d.op.terms == t)],
         _bm25_sql(t))
        for t in checked])
    ctx.mark("checks")
    if ctx.traced:
        traced = [d for d in done if d.counts is not None]
        ctx.layer["pipeline.bm25_ms"] = median(
            [(d.t1 - d.t0) * 1e3 for d in traced])
        for k in ("jobs", "tasks"):
            ctx.layer[f"pipeline.bm25.{k}"] = median(
                [getattr(d.counts, k) for d in traced])
        ctx.layer["pipeline.failed_tasks"] = float(sum(
            d.counts.failed_tasks for d in traced))
        ctx.tracer.enabled = True
        _curation_batch(ctx, aug)
        _vector_batch(ctx, views["embeddings"])


def _bm25_sql(terms) -> str:
    import importlib

    oracles = importlib.import_module(f"{PKG}.pipeline.oracles")
    in_list = "(" + ", ".join(f"'{w}'" for w in terms) + ")"
    return (f"WITH {oracles.DOCS},\n{oracles.bm25_ctes(in_list)}\n"
            "SELECT doc_id, n_terms_hit, score_micro FROM bm\n"
            f"ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_TOP_K}")


def _pipeline_oracles(ctx: Ctx, cases) -> None:
    """Compare each ``(name, columns, rows, sql)`` with its DuckDB oracle
    over the fixture's documents."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{ctx.sf_dir}/documents.parquet'")
        for name, cols, rows, sql in cases:
            ctx.check(checks.mismatch(name, cols, rows,
                                      *checks.duckdb_rows(con, sql)))
    finally:
        con.close()


def _curation_batch(ctx: Ctx, aug) -> None:
    """Traced runs: the ``training_chunks`` composition, checked against
    its DuckDB oracle."""
    import importlib

    import __spark_entry__ as entry

    dedup = importlib.import_module(f"{PKG}.pipeline.dedup")
    text = importlib.import_module(f"{PKG}.pipeline.text")
    cur = importlib.import_module(f"{PKG}.pipeline.curation")
    labels = step(ctx, "pipeline", "dedup_clusters",
                  lambda: dedup.dedup_clusters(dedup.minhash_lsh_pairs(aug)))
    chunks = step(
        ctx, "pipeline", "training_chunks",
        lambda: cur.training_chunks(
            aug, labels, text.quality_scores(aug),
            dedup.decontaminate_report(aug.filter("doc_id % 11 != 0"),
                                       aug.filter("doc_id % 11 = 0"))
        ).collect())
    ctx.tracer.enabled = False
    _pipeline_oracles(ctx, [(
        "training_chunks", chunks[0].__fields__ if chunks else [],
        [tuple(r) for r in chunks],
        entry.oracle_sql()["pipeline_training_chunks"])])
    ctx.tracer.enabled = True


def _vector_batch(ctx: Ctx, emb) -> None:
    """Traced runs: build the ivf_sq8 index, serve seeded 16-query batches
    from it, and score them against exact top-k."""
    import importlib

    from pyspark.sql import functions as F

    sim = importlib.import_module(f"{PKG}.pipeline.similarity")
    spark = ctx.spark
    index = f"{ctx.work}/ivf_sq8"
    step(ctx, "pipeline", "index_build",
         lambda: sim.write_ivf_sq8_index(emb, index))
    ctx.layer["pipeline.index_bytes"] = float(_dir_bytes(index))
    served = []
    # the first batch warms the serving path; the per-layer index_serve
    # figures are those of the last
    for batch in ann_batches(ctx.seed, ANN_BATCHES):
        q = emb.filter(F.col("vec_id").isin(list(batch.query_ids))).select(
            F.col("vec_id").alias("query_id"), "embedding")
        rows = step(ctx, "pipeline", "index_serve",
                    lambda: sim.ivf_sq8_index_topk_batch(
                        spark, index, q, emb, k=ANN_K).collect())
        served.append((batch, rows))
    ctx.tracer.enabled = False
    vecs = np.array(fixture.tables()["embeddings"]
                    .column("embedding").to_pylist(), dtype=np.float64)
    hits = total = 0
    for batch, rows in served:
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for q, want in exact_topk(vecs, list(batch.query_ids),
                                  ANN_K).items():
            hits += len(want & got.get(q, set()))
            total += len(want)
        ctx.check(None if len(rows) == ANN_K * ANN_BATCH else
                  f"ANN batch returned {len(rows)} rows")
    recall = 1000.0 * hits / total
    ctx.layer["pipeline.recall10_permille"] = recall
    ctx.check(None if recall >= MIN_RECALL_PERMILLE else
              f"ANN recall@10 {recall:.0f} permille < {MIN_RECALL_PERMILLE}")
    ctx.tracer.enabled = True


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _, names in os.walk(path) for n in names)


WORKLOADS = {"serve_live": serve_live, "pipeline_batch": pipeline_batch}
