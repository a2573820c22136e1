"""Hypothesis properties for the r10 cores — the laws the new code
relies on, checked over thousands of pure-Python cases: the WAV/PCM
codec is a bijection on sample streams (through arbitrary interposed
RIFF chunks), the filtered-ANN probe widening always terminates with a
sufficient candidate pool, and the deterministic trainer hash-sample is
nested across fractions (so raising train_fraction only ADDS training
vectors, never swaps them)."""

from __future__ import annotations

import hashlib
import struct

from hypothesis import given, settings
from hypothesis import strategies as st


# --- WAV/PCM codec (mirrors pipeline/multimodal._decode_wav) ---------------


def _make_wav(samples, bits=16, chunks_before=()):
    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes(samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * bits // 8,
                      bits // 8, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    for cid, payload in chunks_before:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"                    # RIFF even padding
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _decode(payload):
    from public_transit_data_platform_sql_nosql_spark.pipeline.multimodal import (  # noqa: E501
        _decode_wav,
    )

    return _decode_wav(payload)


samples16 = st.lists(
    st.integers(min_value=-32768, max_value=32767), max_size=64)
samples8 = st.lists(st.integers(min_value=0, max_value=255), max_size=64)
junk_chunks = st.lists(
    st.tuples(
        st.sampled_from([b"LIST", b"cue ", b"fact", b"bext"]),
        st.binary(max_size=17)),
    max_size=3)


@given(samples16, junk_chunks)
@settings(max_examples=200, deadline=None)
def test_wav16_roundtrip_through_any_chunk_layout(samples, junk):
    """encode -> decode is the identity on 16-bit sample streams, no
    matter what (odd- or even-sized) chunks sit between fmt and data —
    the chunk walk the decoder does is a real container traversal."""
    assert _decode(_make_wav(samples, chunks_before=junk)) == samples


@given(samples8, junk_chunks)
@settings(max_examples=200, deadline=None)
def test_wav8_roundtrip(samples, junk):
    assert _decode(
        _make_wav(samples, bits=8, chunks_before=junk)) == samples


# --- filtered-ANN probe widening (mirrors index_topk on IVF kinds) ----------


def _widen(per_cluster_allowed, nprobe, k):
    """Python mirror of the widening loop: probe the ranked clusters,
    doubling nprobe until the probed set holds >= k allowed candidates
    or every cluster is probed.  Returns (final_nprobe, reachable,
    steps)."""
    n = len(per_cluster_allowed)
    steps = 0
    while nprobe < n:
        reachable = sum(per_cluster_allowed[:nprobe])
        if reachable >= k:
            break
        nprobe = min(nprobe * 2, n)
        steps += 1
    return nprobe, sum(per_cluster_allowed[:nprobe]), steps


@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                max_size=64),
       st.integers(min_value=1, max_value=16),
       st.integers(min_value=1, max_value=20))
@settings(max_examples=300, deadline=None)
def test_probe_widening_terminates_and_suffices(clusters, nprobe, k):
    """The two laws the filtered serving path needs: the loop runs at
    most log2(n) doubling steps, and the final probe set holds
    min(k, total_allowed) candidates — a restrictive filter can starve
    the shortlist ONLY when the whole index holds fewer than k allowed
    vectors (at which point every one of them is probed)."""
    total = sum(clusters)
    final_np, reachable, steps = _widen(clusters, nprobe, k)
    assert steps <= max(1, len(clusters)).bit_length()
    assert reachable >= min(k, total)


# --- trainer hash-sample nesting (mirrors similarity._train_sample) --------


TRAIN_SALT = "idx-train-v1"
KMV_SPACE = 1_000_000_007


def _h(vec_id) -> int:
    return int(hashlib.md5(
        (TRAIN_SALT + str(vec_id)).encode()).hexdigest()[:15], 16) \
        % KMV_SPACE


def _sample(ids, fraction):
    permille = max(1, int(round(fraction * 1000)))
    return {i for i in ids if _h(i) % 1000 < permille}


@given(st.sets(st.integers(min_value=0, max_value=10**6), max_size=300),
       st.floats(min_value=0.01, max_value=0.99),
       st.floats(min_value=0.01, max_value=0.99))
@settings(max_examples=200, deadline=None)
def test_train_sample_is_nested_and_deterministic(ids, f1, f2):
    """Samples at different fractions NEST (the threshold filter is
    monotone in the fraction), so raising train_fraction only adds
    vectors — no churn in which vectors train — and re-sampling at the
    same fraction is bit-stable."""
    lo, hi = sorted((f1, f2))
    assert _sample(ids, lo) <= _sample(ids, hi)
    assert _sample(ids, f1) == _sample(ids, f1)


# --- AVI codec (mirrors pipeline/multimodal._decode_avi) -------------------


def _make_avi(width, height, frames, top_down=False):
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    strf = struct.pack("<IiiHHIIiiII", 40, width,
                       -height if top_down else height,
                       1, 24, 0, stride * height, 0, 0, 0, 0)
    strh = b"vids" + b"DIB " + bytes(48)
    avih = struct.pack("<IIIIIIIIII", 33333, 0, 0, 0, len(frames),
                       0, 1, 0, width, height) + bytes(16)
    movi = b""
    for px in frames:
        body = bytearray()
        rows = range(height) if top_down else range(height - 1, -1, -1)
        for r in rows:
            for c in range(width):
                body.extend(px[r * width + c])
            body.extend(b"\x00" * (stride - row_bytes))
        movi += chunk(b"00db", bytes(body))
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    body = b"AVI " + hdrl + lst(b"movi", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


pixel = st.tuples(*[st.integers(min_value=0, max_value=255)] * 3)


@given(st.integers(min_value=1, max_value=5),
       st.integers(min_value=1, max_value=4),
       st.integers(min_value=1, max_value=3),
       st.booleans(), st.data())
@settings(max_examples=100, deadline=None)
def test_avi_roundtrip_any_geometry(w, h, n_frames, top_down, data):
    """encode -> decode is the identity on the flat frame stream for
    any (width, height, frame-count, row-order) — padding strip and
    bottom-up flip are exact inverses of the encoder's layout."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.multimodal import (  # noqa: E501
        _decode_avi,
    )

    frames = [
        [data.draw(pixel) for _ in range(w * h)]
        for _ in range(n_frames)]
    flat = [b for px_frame in frames for px in px_frame for b in px]
    assert _decode_avi(
        _make_avi(w, h, frames, top_down=top_down)) == flat
