"""The bench's LAST stdout line is the driver's whole official record
and the driver captures only its tail (~2000 chars) — BENCH_r12 came
back ``parsed: null`` because two tune_curve arrays outgrew that
window.  These tests pin the record-compaction contract WITHOUT a
SparkSession: a worst-case record (every section present, every
optional per-kind field set, a stray curve injected) must strip to a
single JSON line comfortably under the capture window."""

import json
import sys

sys.path.insert(0, "/root/repo")

from bench import (  # noqa: E402
    _SERVING_KINDS,
    _SF1_QUERIES,
    _SF10_QUERIES,
    compact_record,
)


def _worst_case_record() -> dict:
    # the full headline set as of r13 (5 core + the _is_headline_extra
    # family), worst-case name lengths and 4-digit timings
    headline = [
        "q1_busiest_stops", "q2_route_stats_whole_week",
        "q3_transfer_points", "q4_top_routes_daily", "denormalize_check",
        "ann_bq_topk", "ann_bruteforce_topk", "ann_ivf_topk",
        "ann_lsh_topk", "ann_knn_join", "dedup_clusters",
        "dedup_minhash_lsh", "dedup_repeated_spans", "events_asof_join",
        "events_interval_join", "events_range_join", "geo_stop_pairs",
        "pipeline_curated_corpus", "pipeline_training_chunks",
        "semantic_dedup", "text_profile", "text_search_bm25",
    ]
    vec = {}
    for kind in _SERVING_KINDS:
        vec[kind] = {
            "serve_s": 123.456,
            "recall10": 1000,
            "rerank": 1024,        # r13: the rerank operating point
        }
        if kind.startswith("ivf_"):
            vec[kind].update(
                nprobe=4096,
                # the r12 failure shape: a curve landing in the record
                # (compact_record must strip it)
                tune_curve=[{"nprobe": 2 ** i,
                             "min_recall_permille": 999,
                             "mean_recall_permille": 1000}
                            for i in range(12)])
    return {
        "metric": "headline_query_wall_time_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": {n: 999.999 for n in headline},
        "sf": 0.1,
        "sf1": {"sf": 1.0,
                "queries": {n: 999.999 for n in _SF1_QUERIES},
                "total": 9999.999},
        # r14: the sf10 section is a FLAT dict under short aliases
        "sf10": {a: 9999.999 for a in _SF10_QUERIES.values()},
        # main() records ONE vector section — worst-cased here as the
        # LARGER of the two it can choose (the six-kind sf1 frontier;
        # the sf10 crossover carries four kinds with the same fields)
        # with every optional field AND the r12 failure shape (a
        # curve) present
        "vector_serving_sf1": vec,
    }


def test_compact_record_fits_driver_tail():
    line = json.dumps(compact_record(_worst_case_record()))
    assert len(line) < 1800, (
        f"bench record grew to {len(line)} chars — the driver's tail "
        f"capture is ~2000 and BENCH_r12 already lost a round to this; "
        f"move the new detail to stderr '#' lines")


def test_compact_record_strips_every_list():
    rec = compact_record(_worst_case_record())

    def no_lists(d):
        for v in d.values():
            assert not isinstance(v, (list, tuple))
            if isinstance(v, dict):
                no_lists(v)

    no_lists(rec)
    # scalars and nested sections survive untouched
    assert rec["value"] == 9999.999
    assert rec["vector_serving_sf1"]["ivf_sq8"]["nprobe"] == 4096
    assert "tune_curve" not in rec["vector_serving_sf1"]["ivf_pq"]
    assert rec["sf10"]["clusters"] == 9999.999
    assert rec["sf1"]["queries"]["dedup_clusters"] == 999.999


def test_compact_record_is_single_parseable_line():
    line = json.dumps(compact_record(_worst_case_record()))
    assert "\n" not in line
    assert json.loads(line)["metric"] == "headline_query_wall_time_total"


def test_raising_section_still_prints_record(monkeypatch, capsys):
    """A vector-serving section that raises is logged to stderr and the
    headline record still prints as the last, parseable stdout line."""
    import bench

    def boom(*args, **kwargs):
        raise RuntimeError("section exploded")

    monkeypatch.setattr(bench, "_vector_serving_section", boom)
    monkeypatch.delenv("SPARK_GRAFT_RECORD_OUT", raising=False)
    out = {"metric": "headline_query_wall_time_total", "value": 12.5,
           "unit": "sec", "queries": {"q1_busiest_stops": 12.5}}
    bench._finish_record(None, out)
    captured = capsys.readouterr()
    rec = json.loads(captured.out.strip().splitlines()[-1])
    assert rec["value"] == 12.5
    assert not any(k.startswith("vector_serving") for k in rec)
    assert "# vector_serving FAILED: RuntimeError('section exploded')" \
        in captured.err


def test_raising_sf1_section_keeps_headline_record(monkeypatch, capsys):
    """A raising sf1 section is logged to stderr and skipped; the sf10
    section and the record still run, and the last stdout line parses
    with the headline value."""
    import bench

    def boom(*args, **kwargs):
        raise RuntimeError("sf1 exploded")

    monkeypatch.setattr(bench, "_sf1_section", boom)
    monkeypatch.setattr(bench, "_sf10_section",
                        lambda spark, qs: {"q1": 1.5})
    monkeypatch.setattr(bench, "_vector_serving_section",
                        lambda *a, **k: None)
    monkeypatch.delenv("SPARK_GRAFT_RECORD_OUT", raising=False)
    out = {"metric": "headline_query_wall_time_total", "value": 12.5,
           "unit": "sec", "queries": {"q1_busiest_stops": 12.5}}
    bench._auxiliary_sections(None, {}, out)
    captured = capsys.readouterr()
    rec = json.loads(captured.out.strip().splitlines()[-1])
    assert rec["value"] == 12.5
    assert "sf1" not in rec and rec["sf10"] == {"q1": 1.5}
    assert "# sf1 FAILED: RuntimeError('sf1 exploded')" in captured.err
