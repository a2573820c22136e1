"""Multimodal plumbing: binary payloads stay opaque inside the plan, the
mapInPandas stages keep their schema contracts, and stages compose
(resize output feeds feature extraction); hypothesis round-trips pin
the WAV and AVI decoders as exact inverses of their encoders."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    multimodal as mm,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def media(spark):
    return mm.media_table(E._aug(spark, SF_DIR)).persist()


def test_decode_is_stubbed_without_fake():
    with pytest.raises(NotImplementedError):
        mm.decode_payload(b"\x00\x01", "image")


def test_resize_produces_fixed_width_binary(media):
    rows = mm.resize_payloads(media).collect()
    assert rows
    for r in rows:
        assert r["out_len"] == mm.RESIZE_OUT_LEN
        assert isinstance(r["payload"], (bytes, bytearray))
        assert len(r["payload"]) == mm.RESIZE_OUT_LEN
        assert r["head_hex"] == bytes(r["payload"][:8]).hex()


def test_resize_composes_with_feature_extraction(media):
    """Resized payloads are a valid media frame for downstream stages:
    features over thumbnails, all inside the plan (no driver hop)."""
    resized = mm.resize_payloads(media).select("media_id", "kind", "payload")
    feats = mm.extract_features(resized).collect()
    assert feats and all(r["byte_len"] == mm.RESIZE_OUT_LEN for r in feats)
    assert all(len(r["features"]) == mm.FEATURE_DIM for r in feats)


def test_frame_sampling_fanout(media):
    """One input row fans out to ceil(n/frame_len) frames sampled every
    stride-th — verified against the per-doc byte lengths."""
    n_by_id = {r["media_id"]: r["meta"]["byte_len"]
               for r in media.select("media_id", "meta").collect()}
    frames = mm.sample_frames(media).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    L, S = mm.FRAME_LEN, mm.FRAME_STRIDE
    for mid, n in n_by_id.items():
        total = (n + L - 1) // L
        want = len(range(0, total, S))
        got = sorted(r["frame_idx"] for r in by_id.get(mid, []))
        assert got == list(range(0, total, S))[:want]
        # every frame but possibly the last is full-length
        for r in by_id.get(mid, []):
            if r["frame_idx"] < total - 1:
                assert r["frame_len"] == L
            else:
                assert 1 <= r["frame_len"] <= L


# --- real BMP decode path ----------------------------------------------------


def _make_bmp(width, height, pixels, top_down=False):
    """Minimal uncompressed 24-bit BMP encoder for fixtures.  ``pixels``
    is a top-down row-major list of (b, g, r) tuples; ``top_down``
    writes a negative-height file (rows stored top-down), otherwise the
    standard bottom-up order.  Rows pad to 4 bytes like real files."""
    import struct

    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    data_off = 14 + 40
    size = data_off + stride * height
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, width,
                      -height if top_down else height,
                      1, 24, 0, stride * height, 2835, 2835, 0, 0)
    body = bytearray()
    rows = range(height) if top_down else range(height - 1, -1, -1)
    for r in rows:
        for c in range(width):
            body.extend(pixels[r * width + c])
        body.extend(b"\x00" * (stride - row_bytes))
    return bytes(hdr + dib + body)


_PIXELS_3X2 = [(10, 20, 30), (40, 50, 60), (70, 80, 90),
               (110, 120, 130), (140, 150, 160), (170, 180, 190)]
_FLAT_3X2 = [b for px in _PIXELS_3X2 for b in px]


def test_bmp_decode_normalizes_layout():
    """The real decoder undoes bottom-up row storage and strips row
    padding: bottom-up and top-down encodings of the same image decode
    to the identical top-down B,G,R sample stream."""
    bot = _make_bmp(3, 2, _PIXELS_3X2, top_down=False)
    top = _make_bmp(3, 2, _PIXELS_3X2, top_down=True)
    assert bot != top  # genuinely different byte layouts on disk
    assert mm.decode_payload(bot, "image") == _FLAT_3X2
    assert mm.decode_payload(top, "image") == _FLAT_3X2
    # and the decode differs from the fake byte passthrough
    assert mm.decode_payload(bot, "image", fake=True) != _FLAT_3X2


def test_bmp_unsupported_variants_raise():
    import struct

    bmp = bytearray(_make_bmp(2, 2, _PIXELS_3X2[:4]))
    struct.pack_into("<I", bmp, 30, 1)  # BI_RLE8 compression
    with pytest.raises(NotImplementedError):
        mm.decode_payload(bytes(bmp), "image")
    with pytest.raises(ValueError):
        mm.decode_payload(_make_bmp(3, 2, _PIXELS_3X2)[:-8], "image")


def test_bmp_end_to_end_through_extract_features(spark):
    """A generated BMP flows through the REAL (fake=False) decode inside
    the Arrow batch stage: byte_len / checksum / features computed from
    the normalized pixel stream, not the raw file bytes."""
    payload = _make_bmp(3, 2, _PIXELS_3X2)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, kind string, payload binary")
    row = mm.extract_features(df, fake=False).head()
    samples = _FLAT_3X2
    assert row["byte_len"] == len(samples) == 18
    assert row["checksum"] == sum(samples) % 1_000_000_007
    bucket = [0] * mm.FEATURE_DIM
    for s in samples:
        bucket[s % mm.FEATURE_DIM] += s
    want = [b / 255.0 / len(samples) for b in bucket]
    assert list(row["features"]) == want
    # the raw file bytes would have produced a different checksum
    assert row["checksum"] != sum(payload) % 1_000_000_007


# --- real WAV/PCM decode path ------------------------------------------------


def _make_wav(samples, bits=16, channels=1, chunks_before=()):
    """Minimal uncompressed PCM WAV encoder for fixtures: standard
    RIFF/WAVE with fmt + data chunks; ``chunks_before`` inserts ``(id,
    payload)`` chunks between them (the walk must skip them; an
    odd-sized payload exercises RIFF even-padding)."""
    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes(samples)
    byte_rate = 8000 * channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, 8000, byte_rate,
                      channels * bits // 8, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    for cid, payload in chunks_before:
        chunks += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            chunks += b"\x00"                  # RIFF even padding
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


_SAMPLES_16 = [0, 1000, -1000, 32767, -32768, 7, -7, 255]


def test_wav_decode_unpacks_pcm():
    """16-bit PCM round-trips to signed ints, 8-bit to unsigned bytes,
    and the chunk walk skips interposed (odd-padded) LIST chunks."""
    assert mm.decode_payload(
        _make_wav(_SAMPLES_16), "audio") == _SAMPLES_16
    assert mm.decode_payload(
        _make_wav(_SAMPLES_16, chunks_before=[(b"LIST", b"INFO")]), "audio") == _SAMPLES_16
    assert mm.decode_payload(
        _make_wav(_SAMPLES_16, chunks_before=[(b"LIST", b"INFOx")]),
        "audio") == _SAMPLES_16
    eight = [0, 1, 127, 128, 255]
    assert mm.decode_payload(
        _make_wav(eight, bits=8), "audio") == eight
    # the decode differs from the fake byte passthrough
    assert mm.decode_payload(
        _make_wav(_SAMPLES_16), "audio", fake=True) != _SAMPLES_16


def test_wav_unsupported_variants_raise():
    import struct

    wav = bytearray(_make_wav(_SAMPLES_16))
    struct.pack_into("<H", wav, 20, 3)     # IEEE-float format tag
    with pytest.raises(NotImplementedError):
        mm.decode_payload(bytes(wav), "audio")
    with pytest.raises(ValueError):
        mm.decode_payload(b"RIFF\x04\x00\x00\x00WAVE", "audio")
    # a non-RIFF container routes to the generic no-codec branch
    with pytest.raises(NotImplementedError):
        mm.decode_payload(b"OggS" + bytes(16), "audio")


def test_wav_end_to_end_through_extract_features(spark):
    """A generated WAV flows through the REAL (fake=False) decode inside
    the Arrow batch stage: byte_len / checksum / features computed from
    the signed sample stream, not the raw container bytes."""
    payload = _make_wav(_SAMPLES_16, chunks_before=[(b"LIST", b"INFO")])
    df = spark.createDataFrame(
        [(1, "audio", bytearray(payload))],
        "media_id long, kind string, payload binary")
    row = mm.extract_features(df, fake=False).head()
    samples = _SAMPLES_16
    assert row["byte_len"] == len(samples) == 8
    assert row["checksum"] == sum(samples) % 1_000_000_007
    bucket = [0] * mm.FEATURE_DIM
    for s in samples:
        bucket[s % mm.FEATURE_DIM] += s
    want = [b / 255.0 / len(samples) for b in bucket]
    assert list(row["features"]) == want


# --- real AVI decode path ----------------------------------------------------


def _make_avi(width, height, frames, top_down=False):
    """Minimal uncompressed-DIB AVI encoder for fixtures: RIFF('AVI ')
    containing LIST(hdrl){avih, LIST(strl){strh('vids'), strf(BIH)}}
    then LIST(movi){'00db' frames}.  Each frame is a list of top-down
    row-major (b, g, r) tuples; rows pad to 4 bytes and store bottom-up
    unless ``top_down`` (negative biHeight)."""
    import struct

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
    movi_frames = b""
    for px in frames:
        body = bytearray()
        rows = range(height) if top_down else range(height - 1, -1, -1)
        for r in rows:
            for c in range(width):
                body.extend(px[r * width + c])
            body.extend(b"\x00" * (stride - row_bytes))
        movi_frames += chunk(b"00db", bytes(body))
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", movi_frames)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


_FRAME_A = _PIXELS_3X2
_FRAME_B = [(200, 201, 202), (1, 2, 3), (90, 91, 92),
            (10, 11, 12), (50, 60, 70), (0, 255, 128)]
_FLAT_AB = [b for px in (_FRAME_A + _FRAME_B) for b in px]


def test_avi_decode_normalizes_frames():
    """Bottom-up and top-down encodings of the same two-frame clip
    decode to the identical concatenated top-down sample stream; the
    decode differs from the raw container bytes."""
    bot = _make_avi(3, 2, [_FRAME_A, _FRAME_B])
    top = _make_avi(3, 2, [_FRAME_A, _FRAME_B], top_down=True)
    assert bot != top
    assert mm.decode_payload(bot, "video") == _FLAT_AB
    assert mm.decode_payload(top, "video") == _FLAT_AB
    assert mm.decode_payload(bot, "video", fake=True) != _FLAT_AB


def test_avi_unsupported_variants_raise():
    import struct

    avi = bytearray(_make_avi(3, 2, [_FRAME_A]))
    # find strf's biCompression and set MJPG
    i = avi.find(b"strf") + 8 + 16
    struct.pack_into("<I", avi, i, 0x47504A4D)
    with pytest.raises(NotImplementedError):
        mm.decode_payload(bytes(avi), "video")
    with pytest.raises(ValueError):
        mm.decode_payload(b"RIFF\x04\x00\x00\x00AVI ", "video")
    # non-AVI RIFF under the video kind -> generic no-codec branch
    with pytest.raises(NotImplementedError):
        mm.decode_payload(_make_wav(_SAMPLES_16), "video")


def test_avi_end_to_end_through_extract_features(spark):
    """A generated AVI flows through the REAL (fake=False) decode
    inside the Arrow batch stage, and the frame stream feeds the same
    feature arithmetic as every other kind."""
    payload = _make_avi(3, 2, [_FRAME_A, _FRAME_B])
    df = spark.createDataFrame(
        [(1, "video", bytearray(payload))],
        "media_id long, kind string, payload binary")
    row = mm.extract_features(df, fake=False).head()
    samples = _FLAT_AB
    assert row["byte_len"] == len(samples) == 36
    assert row["checksum"] == sum(samples) % 1_000_000_007
    bucket = [0] * mm.FEATURE_DIM
    for s in samples:
        bucket[s % mm.FEATURE_DIM] += s
    want = [b / 255.0 / len(samples) for b in bucket]
    assert list(row["features"]) == want


# --- WAV/PCM codec (mirrors pipeline/multimodal._decode_wav) ---------------


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
    assert mm._decode_wav(_make_wav(samples, chunks_before=junk)) \
        == samples


@given(samples8, junk_chunks)
@settings(max_examples=200, deadline=None)
def test_wav8_roundtrip(samples, junk):
    assert mm._decode_wav(
        _make_wav(samples, bits=8, chunks_before=junk)) == samples


# --- AVI codec (mirrors pipeline/multimodal._decode_avi) -------------------


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
    frames = [
        [data.draw(pixel) for _ in range(w * h)]
        for _ in range(n_frames)]
    flat = [b for px_frame in frames for px in px_frame for b in px]
    assert mm._decode_avi(
        _make_avi(w, h, frames, top_down=top_down)) == flat
