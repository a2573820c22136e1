"""Seeded request streams and batch inputs.

Everything the program receives in a run — HTTP requests, BM25 term sets,
ANN query ids — is drawn here from the workload seed alone, so one seed
always replays the same inputs and two seeds differ.  Each request carries
the status and top-level JSON shape it must come back with; the checks
compare against that after the timed window.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from urllib.parse import urlencode

import numpy as np

from . import fixture

WARMUP_SEED = 0       # the warm-up replays this seed's inputs in every run
ZIPF_S = 1.2          # stop popularity skew of the lookups
UNKNOWN_SHARE = 0.05  # lookups naming a stop that does not exist
MISSING_SHARE = 0.01  # lookups omitting the stop_id parameter

# One block of 27 requests: 30% analytics, 59% stop lookups, 7% nearby,
# 4% full stop list.  Fixed counts per block (not per-request coin
# flips), each endpoint spaced evenly through the block from a seeded
# offset, keep the mix of any stretch of the stream within one request
# per endpoint of the block's, so a window's median moves only when the
# program does.
BLOCK = (("q1",) * 2 + ("q2",) * 2 + ("q3",) * 2 + ("q4",) * 2
         + ("timetable",) * 4 + ("routes",) * 4 + ("arrivals",) * 4
         + ("arrivals_flat",) * 4 + ("nearby",) * 2 + ("stops",) * 1)
ANALYTICS = ("q1", "q2", "q3", "q4")
LOOKUPS = ("timetable", "routes", "arrivals", "arrivals_flat")
ENDPOINTS = ANALYTICS + LOOKUPS + ("nearby", "stops")

_SERVICE_IDS = ("1", "2", "3", None)
_LIMITS = (5, 10, 20, 50)
_SHORT_NAMES = tuple(f"NATION_{i}" for i in range(25) if i % 7)
_HEADSIGNS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class Request:
    endpoint: str
    url: str
    status: int       # expected HTTP status
    shape: str        # expected top-level JSON shape, see checks.SHAPES
    stop_id: str | None = None


def _stop_sampler(rng: np.random.Generator):
    # Zipf ranks over a fixed permutation of the stop ids: the hot stops
    # are the same in every run (the rank-1 stop draws ~18% of the
    # lookups), only the sequence of lookups varies with the seed
    perm = np.random.default_rng(fixture.FIXTURE_SEED).permutation(
        fixture.N_STOPS)

    def draw() -> str:
        rank = int(rng.zipf(ZIPF_S)) - 1
        return str(perm[rank % fixture.N_STOPS])
    return draw


def _lookup(endpoint: str, rng, draw_stop) -> Request:
    u = rng.random()
    if u < MISSING_SHARE:
        stop, known = None, False
    elif u < MISSING_SHARE + UNKNOWN_SHARE:
        stop, known = f"x{int(rng.integers(10**6))}", False
    else:
        stop, known = draw_stop(), True
    path = {"timetable": "/get_timetable", "routes": "/get_routes_for_stop",
            "arrivals": "/get_arrivals",
            "arrivals_flat": "/get_arrivals"}[endpoint]
    args = {} if stop is None else {"stop_id": stop}
    if endpoint == "arrivals_flat":
        args["route_short_name"] = str(rng.choice(_SHORT_NAMES))
        args["trip_headsign"] = str(rng.choice(_HEADSIGNS))
    if endpoint in ("routes", "arrivals") and rng.random() < 0.5:
        args["service_id"] = str(rng.choice(("1", "2", "3")))
    url = f"{path}?{urlencode(args)}" if args else path
    if stop is None:
        return Request(endpoint, url, 400, "error", None)
    shape = {"timetable": "dict", "routes": "list",
             "arrivals": "groups", "arrivals_flat": "times"}[endpoint]
    if not known:
        status, shape = {"timetable": (404, "error"),
                         "routes": (200, "empty_list"),
                         "arrivals": (200, "empty_times"),
                         "arrivals_flat": (200, "empty_times")}[endpoint]
        return Request(endpoint, url, status, shape, stop)
    return Request(endpoint, url, 200, shape, stop)


def _request(endpoint: str, rng, draw_stop, service=None) -> Request:
    if endpoint in ANALYTICS:
        args = {}
        sid = service(endpoint) if service else _SERVICE_IDS[
            int(rng.integers(len(_SERVICE_IDS)))]
        if sid is not None:
            args["service_id"] = sid
        args["limit"] = int(rng.choice(_LIMITS))
        shape = "items" if endpoint in ("q1", "q3") else endpoint
        return Request(endpoint, f"/api/{endpoint}?{urlencode(args)}", 200,
                       shape)
    if endpoint in LOOKUPS:
        return _lookup(endpoint, rng, draw_stop)
    if endpoint == "nearby":
        args = {"lat": round(43.0 + rng.random(), 4),
                "lon": round(-80.0 + rng.random(), 4),
                "limit": int(rng.choice((5, 10, 20)))}
        return Request(endpoint, f"/api/stops_nearby?{urlencode(args)}",
                       200, "stops")
    return Request("stops", "/get_stops", 200, "list")


def request_stream(seed: int, n: int, block=BLOCK) -> list[Request]:
    """The first ``n`` requests of the seed's stream: repeats of the
    endpoints in ``block``, each repeat in a seeded ``_spaced`` order."""
    rng = np.random.default_rng([seed, 0x5E7E])
    draw_stop = _stop_sampler(rng)
    # each analytics endpoint cycles through the service modes (whole
    # week costs several times a single service) from a seeded start
    cycles = {e: itertools.cycle(np.roll(_SERVICE_IDS,
                                         int(rng.integers(4))).tolist())
              for e in ANALYTICS}
    out: list[Request] = []
    while len(out) < n:
        for e in _spaced(block, rng):
            out.append(_request(e, rng, draw_stop,
                                lambda e: next(cycles[e])))
    return out[:n]


def _spaced(block, rng) -> list[str]:
    """``block``'s endpoints ordered so that the ``c`` occurrences of an
    endpoint sit at ``(k + u) / c`` of the block, ``u`` drawn per endpoint:
    a seeded order in which every endpoint is spread evenly."""
    pos = []
    for e in dict.fromkeys(block):
        c, u = block.count(e), rng.random()
        pos += [((k + u) / c, e) for k in range(c)]
    return [e for _, e in sorted(pos)]


def stream_properties(reqs: list[Request]) -> dict:
    """Input properties the program's behaviour depends on, for the run
    record: size, mix, repetition and working set."""
    n = len(reqs)
    seen: set[str] = set()
    repeats = 0
    for r in reqs:
        repeats += r.url in seen
        seen.add(r.url)
    stops = {r.stop_id for r in reqs if r.stop_id is not None}
    lookups = [r for r in reqs if r.endpoint in LOOKUPS]
    return {
        "requests": n,
        "analytics_share": sum(r.endpoint in ANALYTICS for r in reqs) / n,
        "repeat_share": repeats / n,
        "distinct_stops": len(stops),
        "zipf_s": ZIPF_S,
        "planted_400_share": sum(r.status == 400 for r in reqs) / n,
        "planted_404_share": sum(r.status == 404 for r in reqs) / n,
        "unknown_stop_share": sum(
            (r.stop_id or "").startswith("x") for r in lookups)
        / max(len(lookups), 1),
    }


def bm25_terms(seed: int, n: int) -> list[list[str]]:
    """``n`` seeded query term sets of 2-4 corpus words."""
    rng = np.random.default_rng([seed, 0xB325])
    return [sorted(set(rng.choice(fixture.VOCAB, int(rng.integers(2, 5)),
                                  replace=False).tolist()))
            for _ in range(n)]


def ann_query_ids(seed: int, n: int) -> list[int]:
    """``n`` distinct seeded vector ids used as ANN queries."""
    rng = np.random.default_rng([seed, 0xA22])
    return sorted(int(i) for i in rng.choice(fixture.N_VECS, n,
                                             replace=False))
