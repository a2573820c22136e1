"""Digest and oracle comparison reject a perturbed row."""

from perfbench import checks
from perfbench.inputs import Request

COLS = ["stop_id", "n", "x"]
ROWS = [("1", 3, 0.5), ("2", 1, float("nan")), ("3", 7, None)]


def test_digest_ignores_order_and_rejects_perturbation():
    d = checks.digest(COLS, ROWS)
    assert checks.digest(COLS[::-1], [r[::-1] for r in ROWS[::-1]]) == d
    bad = [ROWS[0], ("2", 2, float("nan")), ROWS[2]]
    assert checks.digest(COLS, bad) != d


def test_mismatch_accepts_equal_and_rejects_perturbed_row():
    assert checks.mismatch("t", COLS, ROWS, COLS, list(reversed(ROWS))) is None
    bad = [ROWS[0], ROWS[1], ("3", 8, None)]
    assert "row" in checks.mismatch("t", COLS, bad, COLS, ROWS)
    assert "rows" in checks.mismatch("t", COLS, ROWS[:2], COLS, ROWS)
    assert "columns" in checks.mismatch("t", ["a", "n", "x"], ROWS,
                                        COLS, ROWS)


def test_response_status_and_shape():
    r = Request("timetable", "/get_timetable?stop_id=x1", 404, "error", "x1")
    assert checks.response_ok(r, 404, b'{"error": "Stop ID not found: x1"}')
    assert not checks.response_ok(r, 200, b'{"error": "x"}')
    g = Request("arrivals", "/get_arrivals?stop_id=5", 200, "groups", "5")
    ok = b'{"groups": [{"count": 2}, {"count": 1}], "total_count": 3}'
    assert checks.response_ok(g, 200, ok)
    assert not checks.response_ok(g, 200, ok.replace(b"3}", b"4}"))
