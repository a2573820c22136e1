"""The generator is a pure function of the seed."""

import numpy as np

from perfbench import fixture, inputs, workloads


def test_request_stream_deterministic_per_seed():
    assert inputs.request_stream(7, 300) == inputs.request_stream(7, 300)


def test_request_stream_differs_across_seeds():
    assert inputs.request_stream(7, 300) != inputs.request_stream(8, 300)


def test_request_mix_is_fixed_per_block():
    reqs = inputs.request_stream(3, len(inputs.BLOCK) * 4)
    for b in range(4):
        block = reqs[b * len(inputs.BLOCK):(b + 1) * len(inputs.BLOCK)]
        assert sorted(r.endpoint for r in block) == sorted(inputs.BLOCK)


def test_every_stretch_holds_the_block_mix():
    n = len(inputs.BLOCK)
    reqs = [r.endpoint for r in inputs.request_stream(5, n * 6)]
    for start in range(len(reqs) - n):
        stretch = reqs[start:start + n]
        for e in inputs.ENDPOINTS:
            assert abs(stretch.count(e) - inputs.BLOCK.count(e)) <= 1


def test_rounds_draw_every_endpoint_once():
    n = len(inputs.ENDPOINTS)
    reqs = inputs.request_stream(3, n * 3, inputs.ENDPOINTS)
    for b in range(3):
        assert sorted(r.endpoint for r in reqs[b * n:(b + 1) * n]) == \
            sorted(inputs.ENDPOINTS)


def test_planted_errors_present():
    props = inputs.stream_properties(inputs.request_stream(1, 2000))
    assert 0.0 < props["planted_400_share"] < 0.02
    assert 0.0 < props["planted_404_share"] < props["unknown_stop_share"]
    assert 0.03 < props["unknown_stop_share"] < 0.07
    assert 0.29 < props["analytics_share"] < 0.31
    assert 0.3 < props["repeat_share"]  # few distinct analytics tuples


def test_fixture_is_fixed():
    a, b = fixture.tables(), fixture.tables()
    for name in a:
        assert a[name].equals(b[name])


def test_fixture_has_the_measured_shape():
    li = fixture.tables()["lineitem"]
    per_stop = np.bincount(li.column("l_partkey").to_numpy(),
                           minlength=fixture.N_STOPS)
    per_trip = np.bincount(li.column("l_orderkey").to_numpy(),
                           minlength=fixture.N_TRIPS)
    # every stop is a known stop, and rows per stop are Poisson(30) with
    # no hub stops; stops per trip are Poisson(4)
    assert per_stop.min() > 0 and per_stop.max() < 60
    assert abs(per_stop.mean() - 30) < 0.1
    assert abs(per_stop.std() - 30 ** 0.5) < 0.5
    assert abs(per_trip.mean() - 4) < 0.1


def test_batch_inputs_deterministic_per_seed():
    assert inputs.bm25_terms(4, 3) == inputs.bm25_terms(4, 3)
    assert inputs.bm25_terms(4, 3) != inputs.bm25_terms(5, 3)
    assert workloads.ann_batches(4, 5) == workloads.ann_batches(4, 5)
    assert workloads.ann_batches(4, 5) != workloads.ann_batches(5, 5)
