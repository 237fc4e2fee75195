"""Prometheus/Gorilla XOR chunk codec — file-level interop with the
reference's converter output.

The reference stores each chunk's raw Prometheus bytes verbatim
(``ChunkBytes: chk.Bytes()`` — `cmd/convert/main.go:107`,
`schema/chunk.go:35-36`; the test fixture writes real 120-sample XOR
chunks, `db/writer_test.go:145-150`) but never implemented a sample
decoder (`prometheus/chunks_iterator.go:12-24` is a stub).  This module
implements the PUBLIC format — Facebook's Gorilla compression (Pelkonen
et al., "Gorilla: A Fast, Scalable, In-Memory Time Series Database",
VLDB 2015, §4.1) as specialized by the Prometheus TSDB ``chunkenc.XOR``
chunk — so a parquet file produced by the reference's ``cmd/convert``
decodes to samples here.

Layout of a chunk's bytes (``chunkenc.Chunk.Bytes()``):

- bytes [0, 2): big-endian uint16 sample count
- then a bitstream, MSB-first within each byte:

  - sample 0: ``t0`` as a zigzag (signed) varint whose base-128 bytes
    are written as 8-bit groups, then the raw 64 value bits;
  - sample 1: ``tDelta = t1 - t0`` as an unsigned varint, then the
    XOR-compressed value (below);
  - sample i >= 2: the delta-of-delta ``dod = tDelta_i - tDelta_{i-1}``
    in the prefix-coded varbit form
    ``0 | 10+14b | 110+17b | 1110+20b | 1111+64b`` (n-bit payloads are
    two's-complement with the +2^(n-1) asymmetry), then the value.

  Values: ``xor = bits(v) ^ bits(prev)``.  ``xor == 0`` -> single 0
  bit.  Else a 1 bit, then either ``0`` + the xor's significant bits
  inside the PREVIOUS (leading, trailing) window when it still fits, or
  ``1`` + 5 bits of leading-zero count (capped at 31) + 6 bits of
  significant-bit count (64 encodes as 0) + those bits.

Pure-Python bit I/O, per-chunk: this is the interop path, not the scan
path — the store keeps samples as Parquet-native arrays (`chunks.py`),
and `chunks.blobs_to_arrays` decodes XOR (or the engine's earlier raw
blob layout, sniffed per blob) once, at import.  Throughput measured
~3,550 chunks/s/core (~0.43 Msamples/s at 120-sample chunks, r08
inlined decoder) — fine for converted-block ingest, which is a one-shot
migration.  The measured wall for a full block convert and the
projected hours/TB live in README's scale section.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_xor_chunk", "decode_xor_chunk", "is_raw_chunk"]


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write_bits(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def finish(self) -> bytes:
        if self.nbits:
            self.buf.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, offset: int) -> None:
        self.data = data
        self.pos = offset
        self.acc = 0
        self.nbits = 0

    def read_bits(self, n: int) -> int:
        acc, nbits, pos, data = self.acc, self.nbits, self.pos, self.data
        while nbits < n:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= n
        out = acc >> nbits
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        self.pos = pos
        return out


def _write_uvarint(w: _BitWriter, x: int) -> None:
    while x >= 0x80:
        w.write_bits((x & 0x7F) | 0x80, 8)
        x >>= 7
    w.write_bits(x, 8)


def _write_varint(w: _BitWriter, x: int) -> None:
    # Go binary.PutVarint zigzag: ux = uint64(x) << 1; if x < 0 { ux = ^ux }
    ux = (x << 1) if x >= 0 else ((-x) << 1) - 1
    _write_uvarint(w, ux)


def _read_uvarint(r: _BitReader) -> int:
    x = 0
    shift = 0
    while True:
        b = r.read_bits(8)
        x |= (b & 0x7F) << shift
        if not b & 0x80:
            return x
        shift += 7


def _read_varint(r: _BitReader) -> int:
    ux = _read_uvarint(r)
    return (ux >> 1) ^ -(ux & 1)


def _bit_range(x: int, nbits: int) -> bool:
    # chunkenc's asymmetric two's-complement range: [-(2^(n-1)-1), 2^(n-1)]
    return -((1 << (nbits - 1)) - 1) <= x <= (1 << (nbits - 1))


def _put_varbit_int(w: _BitWriter, val: int) -> None:
    if val == 0:
        w.write_bits(0, 1)
    elif _bit_range(val, 14):
        w.write_bits(0b10, 2)
        w.write_bits(val, 14)
    elif _bit_range(val, 17):
        w.write_bits(0b110, 3)
        w.write_bits(val, 17)
    elif _bit_range(val, 20):
        w.write_bits(0b1110, 4)
        w.write_bits(val, 20)
    else:
        w.write_bits(0b1111, 4)
        w.write_bits(val, 64)


def _read_varbit_int(r: _BitReader) -> int:
    d = 0
    for _ in range(4):
        d <<= 1
        if not r.read_bits(1):
            break
        d |= 1
    if d == 0:
        return 0
    sz = {0b10: 14, 0b110: 17, 0b1110: 20}.get(d)
    if sz is None:  # 0b1111 -> raw 64-bit two's complement
        bits = r.read_bits(64)
        return bits - (1 << 64) if bits >= (1 << 63) else bits
    bits = r.read_bits(sz)
    return bits - (1 << sz) if bits > (1 << (sz - 1)) else bits


def _write_vdelta(
    w: _BitWriter, prev_bits: int, bits: int, leading: int, trailing: int
) -> tuple[int, int]:
    xor = prev_bits ^ bits
    if xor == 0:
        w.write_bits(0, 1)
        return leading, trailing
    w.write_bits(1, 1)
    lead = 64 - xor.bit_length()
    trail = (xor & -xor).bit_length() - 1
    if lead >= 32:  # 5-bit leading field: chunkenc caps at 31
        lead = 31
    if leading != 0xFF and lead >= leading and trail >= trailing:
        # xor fits the previous significant window: reuse it
        w.write_bits(0, 1)
        w.write_bits(xor >> trailing, 64 - leading - trailing)
        return leading, trailing
    w.write_bits(1, 1)
    w.write_bits(lead, 5)
    sigbits = 64 - lead - trail
    w.write_bits(sigbits & 0x3F, 6)  # 64 significant bits encode as 0
    w.write_bits(xor >> trail, sigbits)
    return lead, trail


def encode_xor_chunk(ts_ms, values) -> bytes:
    """Samples (sorted int64 ms timestamps, float64 values) -> the exact
    byte layout ``chunkenc.XOR``'s appender produces."""
    ts_ms = np.asarray(ts_ms, dtype=np.int64)
    vbits_arr = np.asarray(values, dtype=np.float64).view(np.uint64)
    n = len(ts_ms)
    if n >= 1 << 16:
        raise ValueError(f"XOR chunk sample count {n} exceeds uint16")
    w = _BitWriter()
    prev_t = prev_tdelta = 0
    prev_vbits = 0
    leading, trailing = 0xFF, 0
    for i in range(n):
        t = int(ts_ms[i])
        vbits = int(vbits_arr[i])
        if i == 0:
            _write_varint(w, t)
            w.write_bits(vbits, 64)
        elif i == 1:
            tdelta = t - prev_t
            if tdelta < 0:
                raise ValueError("XOR chunk timestamps must be sorted")
            _write_uvarint(w, tdelta)
            leading, trailing = _write_vdelta(
                w, prev_vbits, vbits, leading, trailing
            )
            prev_tdelta = tdelta
        else:
            tdelta = t - prev_t
            if tdelta < 0:
                raise ValueError("XOR chunk timestamps must be sorted")
            _put_varbit_int(w, tdelta - prev_tdelta)
            leading, trailing = _write_vdelta(
                w, prev_vbits, vbits, leading, trailing
            )
            prev_tdelta = tdelta
        prev_t = t
        prev_vbits = vbits
    return struct.pack(">H", n) + w.finish()


def decode_xor_chunk(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """XOR chunk bytes -> (int64 ms timestamps, float64 values).

    The bit-reader state (accumulator, bit count, byte cursor) is
    inlined as loop locals rather than going through ``_BitReader``
    method calls: the stream is strictly sequential (every field's
    position depends on the previous decode), so per-sample Python is
    irreducible; removing the method dispatch measures +36% (r08:
    0.31 -> 0.43 Msamples/s/core, ~3,550 chunks/s/core at 120-sample
    chunks; no JIT available in this environment to go further).
    Semantics are pinned by the round-trip property tests
    (``tests/test_chunks_property.py``) and the block-format
    round-trips in ``tests/test_tsdb_block.py``."""
    (n,) = struct.unpack_from(">H", blob, 0)
    ts = np.empty(n, dtype=np.int64)
    vals_bits = np.empty(n, dtype=np.uint64)
    if n == 0:
        return ts, vals_bits.view(np.float64)
    data = blob
    pos = 2
    acc = 0
    nbits = 0

    # t0: zigzag varint, byte-aligned 8-bit groups
    ux = 0
    shift = 0
    while True:
        if nbits < 8:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= 8
        b = acc >> nbits
        acc &= (1 << nbits) - 1
        ux |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    t = (ux >> 1) ^ -(ux & 1)
    while nbits < 64:
        acc = (acc << 8) | data[pos]
        pos += 1
        nbits += 8
    nbits -= 64
    vbits = acc >> nbits
    acc &= (1 << nbits) - 1
    ts[0] = t
    vals_bits[0] = vbits

    tdelta = 0
    leading = trailing = 0
    for i in range(1, n):
        if i == 1:
            # tdelta: unsigned varint
            ux = 0
            shift = 0
            while True:
                if nbits < 8:
                    acc = (acc << 8) | data[pos]
                    pos += 1
                    nbits += 8
                nbits -= 8
                b = acc >> nbits
                acc &= (1 << nbits) - 1
                ux |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
            tdelta = ux
        else:
            # dod: prefix code 0 | 10+14 | 110+17 | 1110+20 | 1111+64
            d = 0
            for _ in range(4):
                d <<= 1
                if not nbits:
                    acc = (acc << 8) | data[pos]
                    pos += 1
                    nbits = 8
                nbits -= 1
                bit = acc >> nbits
                acc &= (1 << nbits) - 1
                if not bit:
                    break
                d |= 1
            if d:
                if d == 0b10:
                    sz = 14
                elif d == 0b110:
                    sz = 17
                elif d == 0b1110:
                    sz = 20
                else:  # 0b1111 -> raw 64-bit two's complement
                    sz = 64
                while nbits < sz:
                    acc = (acc << 8) | data[pos]
                    pos += 1
                    nbits += 8
                nbits -= sz
                bits = acc >> nbits
                acc &= (1 << nbits) - 1
                if sz == 64:
                    if bits >= 1 << 63:
                        bits -= 1 << 64
                elif bits > 1 << (sz - 1):
                    bits -= 1 << sz
                tdelta += bits
        t += tdelta

        if not nbits:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits = 8
        nbits -= 1
        bit = acc >> nbits
        acc &= (1 << nbits) - 1
        if bit:
            if not nbits:
                acc = (acc << 8) | data[pos]
                pos += 1
                nbits = 8
            nbits -= 1
            bit = acc >> nbits
            acc &= (1 << nbits) - 1
            if bit:
                while nbits < 11:
                    acc = (acc << 8) | data[pos]
                    pos += 1
                    nbits += 8
                nbits -= 11
                f = acc >> nbits
                acc &= (1 << nbits) - 1
                leading = f >> 6
                sig = f & 0x3F
                if sig == 0:
                    sig = 64
                trailing = 64 - leading - sig
            sig = 64 - leading - trailing
            while nbits < sig:
                acc = (acc << 8) | data[pos]
                pos += 1
                nbits += 8
            nbits -= sig
            vbits ^= (acc >> nbits) << trailing
            acc &= (1 << nbits) - 1
        ts[i] = t
        vals_bits[i] = vbits
    return ts, vals_bits.view(np.float64)


def is_raw_chunk(blob: bytes) -> bool:
    """Codec auto-detection: the engine's own raw layout (`chunks.py`) is
    self-describing by exact length — ``4 + 16 * uint32_le(count)``
    bytes, always.  An XOR chunk whose first four little-endian bytes
    happened to ALSO satisfy that equation would need its bitstream to
    be exactly ``16*count - (len - 4)`` ... i.e. collide on both the
    count field and total length — possible in principle, so stores that
    interleave codecs at scale should carry an explicit codec column;
    the per-blob sniff is for reading foreign (converted) files, whose
    chunks are uniformly XOR."""
    if len(blob) < 4:
        return False
    (n,) = struct.unpack_from("<I", blob, 0)
    return len(blob) == 4 + 16 * n
