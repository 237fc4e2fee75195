"""Property-based tests for the chunk codec (hypothesis) — the moral
equivalent of the reference's writer round-trip test
(`db/writer_test.go:21-63`) but randomized."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tsdb_parquet_spark.chunks import decode_samples, encode_samples

ts_strategy = st.lists(
    st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=500
)
val_strategy = st.floats(
    allow_nan=False, allow_infinity=True, width=64
)


@settings(max_examples=200, deadline=None)
@given(ts=ts_strategy, data=st.data())
def test_codec_roundtrip(ts, data):
    vals = [
        data.draw(val_strategy) for _ in ts
    ]
    ts_arr = np.array(ts, dtype=np.int64)
    val_arr = np.array(vals, dtype=np.float64)
    blob = encode_samples(ts_arr, val_arr)
    t2, v2 = decode_samples(blob)
    assert list(t2) == list(ts_arr)
    assert all(
        (a == b) or (np.isnan(a) and np.isnan(b)) for a, b in zip(v2, val_arr)
    )


@settings(max_examples=50, deadline=None)
@given(ts=ts_strategy)
def test_codec_length_contract(ts):
    ts_arr = np.array(ts, dtype=np.int64)
    vals = np.zeros(len(ts))
    blob = encode_samples(ts_arr, vals)
    assert len(blob) == 4 + 16 * len(ts)


def test_nan_payload_preserved():
    blob = encode_samples(np.array([1], dtype=np.int64), np.array([float("nan")]))
    _, v = decode_samples(blob)
    assert np.isnan(v[0])


# ---------------------------------------------------------------------------
# Prometheus/Gorilla XOR chunk codec (xorchunk.py) — interop format: the
# reference's converter stores these bytes verbatim (`cmd/convert/main.go:
# 107`, `db/writer_test.go:145-150`).  Golden vector hand-derived from the
# public format spec (Gorilla VLDB'15 §4.1 / Prometheus chunkenc.XOR), plus
# randomized roundtrips over sorted-timestamp series.
# ---------------------------------------------------------------------------

from tsdb_parquet_spark.xorchunk import (  # noqa: E402
    decode_xor_chunk,
    encode_xor_chunk,
    is_raw_chunk,
)

xor_deltas = st.lists(
    st.integers(min_value=0, max_value=2**40), min_size=0, max_size=400
)
xor_vals = st.floats(allow_nan=False, allow_infinity=True, width=64)


def test_xor_golden_vector():
    """Byte-exact against the format spec, derived by hand: count BE16;
    t0=1000 zigzag varint (d0 0f); v0=1.0 raw bits; tdelta=1000 uvarint
    (e8 07); v1==v0 -> '0'; dod=0 -> '0'; v2=2.0 xor=0x7FF0... ->
    '1','1', lead=1 (5b), sigbits=11 (6b), 0x7FF (11b); zero-pad."""
    blob = encode_xor_chunk([1000, 2000, 3000], [1.0, 1.0, 2.0])
    assert blob.hex() == "0003d00f3ff0000000000000e8073097ffc0"
    ts, vs = decode_xor_chunk(blob)
    assert list(ts) == [1000, 2000, 3000]
    assert list(vs) == [1.0, 1.0, 2.0]
    assert not is_raw_chunk(blob)


@settings(max_examples=200, deadline=None)
@given(deltas=xor_deltas, t0=st.integers(-(2**50), 2**50), data=st.data())
def test_xor_roundtrip(deltas, t0, data):
    ts = np.cumsum([t0] + deltas).astype(np.int64)
    vals = np.array(
        [data.draw(xor_vals) for _ in ts], dtype=np.float64
    )
    t2, v2 = decode_xor_chunk(encode_xor_chunk(ts, vals))
    assert list(t2) == list(ts)
    assert all(a == b for a, b in zip(v2, vals))


def test_xor_nan_payload_and_window_reuse():
    # repeated values after a window change exercise the reuse branch;
    # NaN bit patterns survive (bit-level XOR, not arithmetic)
    ts = np.arange(10, dtype=np.int64) * 15_000
    vals = np.array(
        [1.0, float("nan"), 1.5, 1.5, 1.25, 1.75, 1.75, 2.0, -2.0, 0.0]
    )
    t2, v2 = decode_xor_chunk(encode_xor_chunk(ts, vals))
    assert list(t2) == list(ts)
    assert np.isnan(v2[1])
    keep = [i for i in range(10) if i != 1]
    assert list(v2[keep]) == list(vals[keep])


def test_raw_chunk_detection():
    raw = encode_samples(
        np.array([5, 10], dtype=np.int64), np.array([1.0, 2.0])
    )
    assert is_raw_chunk(raw)
    assert not is_raw_chunk(encode_xor_chunk([5, 10], [1.0, 2.0]))
    assert not is_raw_chunk(b"")
