"""Prometheus WAL format: framing, records, recovery, distributed drain."""

import os
import struct

import pytest

from tsdb_parquet_spark.tsdb_wal import (
    PAGE_SIZE,
    SAMPLES,
    SERIES,
    WalCorruptionError,
    WalWriter,
    decode_samples_record,
    decode_series_record,
    discover_data_dir,
    discover_wal_segments,
    encode_samples_record,
    encode_series_record,
    iter_segment_records,
    read_wal,
    wal_to_samples_frame,
    write_checkpoint,
)
from tsdb_parquet_spark.tsdb_block import crc32c


def _frame(data: bytes, ftype: int = 1) -> bytes:
    return (
        bytes([ftype])
        + struct.pack(">H", len(data))
        + struct.pack(">I", crc32c(data))
        + data
    )


def _pad_to_page(buf: bytes) -> bytes:
    rem = (-len(buf)) % PAGE_SIZE
    return buf + b"\x00" * rem


# -- payload codecs ---------------------------------------------------------


def test_series_record_roundtrip():
    series = [
        (1, {"__name__": "up", "job": "api"}),
        (2, {"__name__": "up", "job": "db", "zone": "eu"}),
        (1 << 40, {}),
    ]
    rec = encode_series_record(series)
    assert rec[0] == SERIES
    assert decode_series_record(rec) == series


def test_samples_record_roundtrip_deltas():
    samples = [(5, 1000, 1.5), (5, 2000, -0.25), (7, 900, float("inf"))]
    rec = encode_samples_record(samples)
    assert rec[0] == SAMPLES
    # base ref/ts are the FIRST sample's, big-endian, right after type
    assert struct.unpack_from(">Q", rec, 1)[0] == 5
    assert struct.unpack_from(">q", rec, 9)[0] == 1000
    assert decode_samples_record(rec) == samples


def test_samples_record_negative_base_time():
    samples = [(1, -62135596800000, 0.0), (1, 1000, 1.0)]
    assert decode_samples_record(encode_samples_record(samples)) == samples


# -- spec-golden framing ----------------------------------------------------


def test_spec_golden_hand_assembled_segment(tmp_path):
    """A reader must decode a segment assembled byte-by-byte from the
    published framing spec (type/len-BE/crc32c-BE/data, zero page
    terminator) without going through our writer."""
    series = encode_series_record([(9, {"__name__": "m"})])
    samples = encode_samples_record([(9, 10, 2.0), (9, 20, 3.0)])
    seg = _pad_to_page(_frame(series) + _frame(samples))
    (tmp_path / "00000000").write_bytes(seg)
    got_series, got_samples = read_wal(str(tmp_path))
    assert got_series == {9: {"__name__": "m"}}
    assert got_samples == [(9, 10, 2.0), (9, 20, 3.0)]


def test_fragmented_record_across_pages():
    """A record bigger than one page must split into first/middle/last
    fragments, each with its own CRC, never crossing a page boundary."""
    big = encode_samples_record(
        [(1, i * 1000, float(i)) for i in range(6000)]
    )  # ~100 KiB > 3 pages
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        w = WalWriter(d)
        w.log_series([(1, {"__name__": "big"})])
        w.log_samples([(1, i * 1000, float(i)) for i in range(6000)])
        w.close()
        seg = open(os.path.join(d, "00000000"), "rb").read()
        # fragment types present: 2 (first), 3 (middle), 4 (last)
        types = set()
        recs = list(iter_segment_records(seg))
        pos = 0
        while pos < len(seg):
            t = seg[pos]
            if t == 0:
                pos = pos - (pos % PAGE_SIZE) + PAGE_SIZE
                continue
            (ln,) = struct.unpack_from(">H", seg, pos + 1)
            types.add(t & 0x07)
            pos += 7 + ln
        assert {2, 3, 4} <= types
        assert recs[1] == big


def test_crc_corruption_detected(tmp_path):
    w = WalWriter(str(tmp_path))
    w.log_series([(1, {"a": "b"})])
    w.log_samples([(1, 1, 1.0)])
    w.close()
    path = tmp_path / "00000000"
    raw = bytearray(path.read_bytes())
    raw[9] ^= 0xFF  # flip a data byte of the first record
    with pytest.raises(WalCorruptionError):
        list(iter_segment_records(bytes(raw)))


def test_torn_tail_tolerated_only_on_last_segment(tmp_path):
    w = WalWriter(str(tmp_path))
    w.log_series([(1, {"a": "b"})])
    w.log_samples([(1, 1, 1.0)])
    w.log_samples([(1, 2, 2.0)])
    w.close()
    path = tmp_path / "00000000"
    raw = path.read_bytes()
    # find the last record's frame (full-record type byte + its 27-byte
    # payload length) and truncate inside it
    rec_len = len(encode_samples_record([(1, 2, 2.0)]))
    truncated = raw[: raw.rindex(b"\x01" + struct.pack(">H", rec_len)) + 10]
    recs = list(iter_segment_records(truncated, tolerate_tail=True))
    assert len(recs) == 2  # series + first samples record survive
    with pytest.raises((WalCorruptionError, Exception)):
        list(iter_segment_records(truncated, tolerate_tail=False))


def test_nonzero_padding_after_terminator_raises():
    seg = bytearray(_pad_to_page(_frame(encode_series_record([(1, {})]))))
    seg[-1] = 0x7F
    with pytest.raises(WalCorruptionError):
        list(iter_segment_records(bytes(seg)))


def test_snappy_block_format_decoder():
    """Hand-crafted streams per the public format: literals, a 2-byte
    copy, and an overlapping (RLE-style) 1-byte-offset copy."""
    from tsdb_parquet_spark.tsdb_wal import snappy_decompress

    # "abc" literal + copy(offset=3, len=9) -> "abc" * 4
    rle = bytes([12, (3 - 1) << 2]) + b"abc" + bytes([1 | (5 << 2), 3])
    assert snappy_decompress(rle) == b"abc" * 4
    # literal "hello " + copy2(offset=6, len=5) -> "hello hello"
    c2 = (
        bytes([11, (6 - 1) << 2])
        + b"hello "
        + bytes([2 | ((5 - 1) << 2)])
        + (6).to_bytes(2, "little")
    )
    assert snappy_decompress(c2) == b"hello hello"
    with pytest.raises(ValueError):
        snappy_decompress(bytes([5, (3 - 1) << 2]) + b"abc")  # len lie


def test_snappy_compress_roundtrip():
    from tsdb_parquet_spark.tsdb_wal import (
        snappy_compress,
        snappy_decompress,
    )

    for size in (0, 1, 60, 61, 256, 257, 65536, 65537, 200_000):
        blob = bytes((i * 31 + 7) % 251 for i in range(size))
        assert snappy_decompress(snappy_compress(blob)) == blob


def test_snappy_compressed_wal_roundtrip(tmp_path):
    """Writer with compression="snappy" emits flagged fragments the
    reader decompresses transparently (pure-python codec — this is the
    Prometheus DEFAULT record encoding since v2.20)."""
    w = WalWriter(str(tmp_path), compression="snappy")
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, 1000 + i, float(i)) for i in range(5000)])
    w.close()
    raw = (tmp_path / "00000000").read_bytes()
    # the first fragment's type byte carries the snappy flag
    assert raw[0] & 0x08
    series, samples = read_wal(str(tmp_path))
    assert series == {1: {"__name__": "m", "job": "a"}}
    assert len(samples) == 5000
    assert samples[0] == (1, 1000, 0.0)


def test_zstd_flag_without_library_raises(tmp_path):
    data = encode_series_record([(1, {})])
    seg = _pad_to_page(_frame(data, ftype=1 | 0x10))  # zstd flag
    try:
        import zstandard  # noqa: F401

        pytest.skip("zstandard installed; flag is decodable here")
    except ImportError:
        pass
    with pytest.raises(WalCorruptionError, match="zstd"):
        list(iter_segment_records(seg))


# -- directory layout -------------------------------------------------------


def test_segment_roll_and_multi_segment_replay(tmp_path):
    w = WalWriter(str(tmp_path), segment_bytes=PAGE_SIZE)
    w.log_series([(1, {"__name__": "m", "i": "0"})])
    for k in range(8):
        # ~24 KiB each -> forces one record per page-sized segment
        w.log_samples([(1, k * 10_000 + j, float(j)) for j in range(1200)])
    w.close()
    segs = discover_wal_segments(str(tmp_path))
    assert len(segs) > 3
    series, samples = read_wal(str(tmp_path))
    assert series == {1: {"__name__": "m", "i": "0"}}
    assert len(samples) == 8 * 1200


def test_series_ref_defined_in_earlier_segment(tmp_path):
    """Refs are WAL-global: samples in a later segment resolve against a
    series record logged segments earlier."""
    w = WalWriter(str(tmp_path), segment_bytes=PAGE_SIZE)
    w.log_series([(42, {"__name__": "x"})])
    for k in range(4):
        w.log_samples([(42, k * 1000 + j, 1.0) for j in range(1200)])
    w.close()
    assert len(discover_wal_segments(str(tmp_path))) >= 2
    series, samples = read_wal(str(tmp_path))
    assert set(series) == {42}
    assert all(ref == 42 for ref, _, _ in samples)


def test_checkpoint_precedence(tmp_path):
    """Replay = latest checkpoint's segments, then live segments with a
    number strictly above the checkpoint's."""
    wal = str(tmp_path)
    # live segments 00000002, 00000003
    w = WalWriter(wal, first_segment=2)
    w.log_samples([(7, 100, 1.0)])
    w._flush_segment()
    w.log_samples([(7, 200, 2.0)])
    w.close()
    # checkpoint covering segments <= 1 carries the series record
    write_checkpoint(wal, 1, [(7, {"__name__": "cp"})], [(7, 50, 0.5)])
    # a stale segment 00000001 that must NOT be replayed
    stale = WalWriter(wal, first_segment=1)
    stale.log_samples([(7, 999, 99.0)])
    stale.close()
    series, samples = read_wal(wal)
    assert series == {7: {"__name__": "cp"}}
    assert (7, 999, 99.0) not in samples
    assert samples == [(7, 50, 0.5), (7, 100, 1.0), (7, 200, 2.0)]


def test_discover_data_dir(tmp_path):
    import json

    blk = tmp_path / "01HZZZZZZZZZZZZZZZZZZZZZZZ"
    blk.mkdir()
    (blk / "meta.json").write_text(json.dumps({"minTime": 0, "maxTime": 1}))
    (tmp_path / "wal").mkdir()
    w = WalWriter(str(tmp_path / "wal"))
    w.log_series([(1, {})])
    w.close()
    blocks, wal = discover_data_dir(str(tmp_path))
    assert blocks == [str(blk)]
    assert wal == str(tmp_path / "wal")
    # no wal segments -> None
    empty = tmp_path / "e"
    (empty / "wal").mkdir(parents=True)
    blocks2, wal2 = discover_data_dir(str(empty))
    assert wal2 is None


# -- distributed drain ------------------------------------------------------


def test_wal_to_samples_frame_matches_serial_replay(spark, tmp_path):
    wal = str(tmp_path)
    w = WalWriter(wal, segment_bytes=PAGE_SIZE)
    w.log_series(
        [
            (1, {"__name__": "m", "job": "a"}),
            (2, {"__name__": "m", "job": "b", "extra": "x"}),
        ]
    )
    for k in range(3):
        w.log_samples(
            [(1 + (j % 2), k * 100_000 + j * 7, float(k * 1000 + j))
             for j in range(1200)]
        )
    w.close()
    df = wal_to_samples_frame(
        spark, wal, label_names=["__name__", "job", "extra"]
    )
    got = {
        (r["__name__"], r["job"], r["extra"], r["ts"]): r["value"]
        for r in df.collect()
    }
    series, samples = read_wal(wal)
    want = {}
    for ref, ts, v in samples:
        ls = series[ref]
        want[(ls["__name__"], ls["job"], ls.get("extra", ""), ts)] = v
    assert got == want
    # one task per segment on the scan side
    assert df.rdd.getNumPartitions() >= 1


def test_data_dir_to_chunk_frame_unions_blocks_and_wal(spark, tmp_path):
    """A full data dir (compacted block + head WAL) converts into ONE
    chunk frame covering both; decoded samples equal block + WAL
    samples and series ids never collide across the two origins."""
    import numpy as np

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.schema import SERIES_ID
    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.tsdb_wal import data_dir_to_chunk_frame
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    data_dir = str(tmp_path)
    # block: series m{job=a} with 3 old samples
    ts = np.array([1000, 2000, 3000], dtype=np.int64)
    vals = np.array([1.0, 2.0, 3.0])
    write_block(
        os.path.join(data_dir, "blk"),
        [({"__name__": "m", "job": "a"},
          [(1000, 3000, encode_xor_chunk(ts, vals))])],
    )
    os.rename(
        os.path.join(data_dir, "blk"),
        os.path.join(data_dir, "01HZZZZZZZZZZZZZZZZZZZZZZZ"),
    )
    # WAL: same series continues + a brand-new head-only series
    w = WalWriter(os.path.join(data_dir, "wal"))
    w.log_series(
        [(1, {"__name__": "m", "job": "a"}),
         (2, {"__name__": "m", "job": "headonly"})]
    )
    w.log_samples([(1, 4000, 4.0), (2, 4000, 40.0), (2, 5000, 50.0)])
    w.close()

    frame = data_dir_to_chunk_frame(
        spark, data_dir, ["__name__", "job"], chunk_span_ms=10_000
    )
    decoded = frame.transform(with_sample_arrays).select(
        SERIES_ID,
        "job",
        F.explode(sample_structs()).alias("s"),
    ).collect()
    got = sorted((r["job"], r["s"]["ts"], r["s"]["value"]) for r in decoded)
    assert got == [
        ("a", 1000, 1.0), ("a", 2000, 2.0), ("a", 3000, 3.0),
        ("a", 4000, 4.0),
        ("headonly", 4000, 40.0), ("headonly", 5000, 50.0),
    ]
    ids = {r[SERIES_ID] for r in decoded}
    # block-origin ids live under ordinal 0's 32-bit space; WAL-origin
    # ids are offset past it
    assert any(i < (1 << 32) for i in ids)
    assert any(i >= (1 << 32) for i in ids)


def test_wal_to_samples_frame_duplicate_append_first_write_wins(
    spark, tmp_path
):
    """Conflicting duplicate (ref, ts) appends resolve FIRST-WRITE-WINS
    in WAL log order: Prometheus's appender rejects the second
    duplicate, and `compact_blocks` applies the same rule across blocks
    — the r09 advice asked the two paths to agree."""
    wal = str(tmp_path)
    write_checkpoint(wal, 0, [(3, {"__name__": "d"})], [(3, 500, 1.0)])
    w = WalWriter(wal, first_segment=1)
    w.log_samples([(3, 500, 9.0)])  # same (ref, ts), later in the log
    w.close()
    df = wal_to_samples_frame(spark, wal, label_names=["__name__"])
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 1.0


def test_wal_duplicate_within_one_segment_deterministic(spark, tmp_path):
    """Ties WITHIN one segment break on log position (rec_ord), not
    scheduling: two appends of the same (ref, ts) in one segment keep
    the first."""
    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(7, {"__name__": "dup"})])
    w.log_samples([(7, 100, 5.0)])
    w.log_samples([(7, 100, 6.0)])  # same segment, later record
    w.close()
    df = wal_to_samples_frame(spark, wal, label_names=["__name__"])
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 5.0


# -- incremental head sync --------------------------------------------------


def _grow_wal(wal_dir, n_records, tmp_base):
    """Rewrite the WAL with the first ``n_records`` sample batches —
    because the writer is deterministic, each rewrite extends the prior
    one exactly the way a live head appends to its open segment."""
    import shutil

    shutil.rmtree(wal_dir, ignore_errors=True)
    w = WalWriter(wal_dir)
    w.log_series(
        [(1, {"__name__": "m", "job": "a"}),
         (2, {"__name__": "m", "job": "b"})]
    )
    for k in range(n_records):
        w.log_samples(
            [(1 + (k % 2), k * 1000 + j, float(k * 10 + j)) for j in range(3)]
        )
    w.close()


def _store_samples(spark, store_root):
    import glob

    from tsdb_parquet_spark.chunks import chunks_to_samples

    parts = sorted(glob.glob(os.path.join(store_root, "part.walsync*")))
    if not parts:
        return []
    df = spark.read.parquet(*parts)
    rows = chunks_to_samples(df, ["__name__", "job"]).collect()
    return sorted((r["job"], r["ts"], r["value"]) for r in rows)


def test_sync_wal_incremental_tail(spark, tmp_path):
    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    _grow_wal(wal, 2, tmp_path)
    r1 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r1["samples"] == 6 and r1["part"]
    # head appends two more records into the SAME open segment
    _grow_wal(wal, 4, tmp_path)
    r2 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r2["samples"] == 6 and r2["part"] != r1["part"]
    series, samples = read_wal(wal)
    want = sorted(
        (series[ref]["job"], ts, v) for ref, ts, v in samples
    )
    assert _store_samples(spark, store) == want
    # nothing new: no part, no count drift
    r3 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r3["samples"] == 0 and r3["part"] is None
    assert _store_samples(spark, store) == want


def test_sync_wal_seals_rolled_segments(spark, tmp_path):
    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal, segment_bytes=PAGE_SIZE)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    for k in range(3):
        w.log_samples([(1, k * 100_000 + j, 1.0) for j in range(1200)])
    w.close()
    assert len(discover_wal_segments(wal)) >= 2
    r = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r["samples"] == 3600
    # all but the live tail are recorded complete
    import json

    state = json.load(open(os.path.join(store, "_wal_sync.json")))
    assert len(state["complete"]) >= 1
    assert len(state["tail"]) == 1


def test_sync_wal_checkpoint_truncation_skips_duplicates(spark, tmp_path):
    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    # segments 0..2; 0 and 1 will be truncated into a checkpoint
    w = WalWriter(wal, segment_bytes=PAGE_SIZE)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    for k in range(3):
        w.log_samples([(1, k * 100_000 + j, 1.0) for j in range(1200)])
    w.close()
    segs = discover_wal_segments(wal)
    r1 = sync_wal(spark, wal, store, ["__name__", "job"])
    before = _store_samples(spark, store)
    assert r1["samples"] == 3600 and not r1["gap_drained"]
    # Prometheus checkpoints segments <= 1: rewrites the series record
    # + surviving samples, deletes the originals
    n_seal = len(segs) - 1
    write_checkpoint(
        wal, n_seal - 1,
        [(1, {"__name__": "m", "job": "a"})],
        [(1, 0, 1.0), (1, 1, 1.0)],  # duplicates of already-synced data
    )
    for p in segs[:n_seal]:
        os.remove(p)
    r2 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r2["samples"] == 0 and not r2["gap_drained"]
    assert _store_samples(spark, store) == before
    # and a LATER checkpoint must not re-read the long-gone segments as
    # a gap
    import json

    state = json.load(open(os.path.join(store, "_wal_sync.json")))
    assert state["floor"] == n_seal - 1


def test_sync_wal_gap_checkpoint_is_drained(spark, tmp_path):
    """If sync was down across a truncation cycle, the checkpoint holds
    samples from segments this store never saw — it must be drained and
    flagged."""
    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    write_checkpoint(
        wal, 1, [(1, {"__name__": "m", "job": "a"})], [(1, 500, 7.0)]
    )
    w = WalWriter(wal, first_segment=2)
    w.log_samples([(1, 1000, 8.0)])
    w.close()
    r = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r["gap_drained"] and r["samples"] == 2
    assert _store_samples(spark, store) == [
        ("a", 500, 7.0), ("a", 1000, 8.0)
    ]


def test_sync_wal_crash_before_sidecar_commit_is_idempotent(
    spark, tmp_path
):
    import json
    import shutil

    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    _grow_wal(wal, 2, tmp_path)
    sync_wal(spark, wal, store, ["__name__", "job"])
    state_path = os.path.join(store, "_wal_sync.json")
    saved = open(state_path).read()
    _grow_wal(wal, 4, tmp_path)
    sync_wal(spark, wal, store, ["__name__", "job"])
    after = _store_samples(spark, store)
    # crash simulation: the part landed but the sidecar never advanced
    with open(state_path, "w") as fh:
        fh.write(saved)
    r = sync_wal(spark, wal, store, ["__name__", "job"])
    # the rerun recomputes the SAME batch key and overwrites in place
    assert r["samples"] == 6
    assert _store_samples(spark, store) == after


# -- tombstones (delete API) ------------------------------------------------


def test_tombstones_record_roundtrip():
    from tsdb_parquet_spark.tsdb_wal import (
        TOMBSTONES,
        decode_tombstones_record,
        encode_tombstones_record,
    )

    stones = [(1, 0, 999), (1, 5000, 6000), (1 << 33, -10, 10)]
    rec = encode_tombstones_record(stones)
    assert rec[0] == TOMBSTONES
    assert decode_tombstones_record(rec) == stones


def test_wal_frame_applies_tombstones(spark, tmp_path):
    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"}),
                  (2, {"__name__": "m", "job": "b"})])
    w.log_samples([(1, t, float(t)) for t in (100, 200, 300)])
    w.log_samples([(2, 200, 9.0)])
    # delete [150, 250] on series 1 only
    w.log_tombstones([(1, 150, 250)])
    w.close()
    df = wal_to_samples_frame(spark, wal, ["__name__", "job"])
    got = sorted((r["job"], r["ts"]) for r in df.collect())
    assert got == [("a", 100), ("a", 300), ("b", 200)]
    # raw mode keeps the deleted sample
    raw = wal_to_samples_frame(
        spark, wal, ["__name__", "job"], apply_tombstones=False
    )
    assert len(raw.collect()) == 4


def test_sync_wal_applies_tombstones_within_batch(spark, tmp_path):
    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, t, 1.0) for t in (100, 200, 300)])
    w.log_tombstones([(1, 200, 200)])
    w.close()
    r = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r["samples"] == 3  # watermark counts raw WAL samples
    assert _store_samples(spark, store) == [
        ("a", 100, 1.0), ("a", 300, 1.0)
    ]


# -- exemplars --------------------------------------------------------------


def test_exemplars_record_roundtrip():
    from tsdb_parquet_spark.tsdb_wal import (
        EXEMPLARS,
        decode_exemplars_record,
        encode_exemplars_record,
    )

    ex = [
        (5, 1000, 1.5, {"trace_id": "abc123"}),
        (5, 2000, 2.5, {"trace_id": "def456", "span_id": "s1"}),
        (9, 500, -1.0, {}),
    ]
    rec = encode_exemplars_record(ex)
    assert rec[0] == EXEMPLARS
    assert decode_exemplars_record(rec) == ex
    # base comes from the first exemplar, Samples-style
    import struct

    assert struct.unpack_from(">Q", rec, 1)[0] == 5
    assert struct.unpack_from(">q", rec, 9)[0] == 1000


def test_wal_to_exemplars_frame(spark, tmp_path):
    from tsdb_parquet_spark.tsdb_wal import wal_to_exemplars_frame

    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"}),
                  (2, {"__name__": "m", "job": "b"})])
    w.log_samples([(1, 1000, 1.0), (2, 1000, 2.0)])
    w.log_exemplars([
        (1, 1000, 1.0, {"trace_id": "t-1"}),
        (2, 1000, 2.0, {"trace_id": "t-2"}),
    ])
    w.close()
    df = wal_to_exemplars_frame(spark, wal, ["__name__", "job"])
    got = sorted(
        (r["job"], r["ts"], r["exemplar_labels"]["trace_id"])
        for r in df.collect()
    )
    assert got == [("a", 1000, "t-1"), ("b", 1000, "t-2")]
    # sample drains are unaffected by exemplar records
    s = wal_to_samples_frame(spark, wal, ["__name__", "job"])
    assert len(s.collect()) == 2


# -- staleness markers ------------------------------------------------------


def test_stale_marker_bit_exactness():
    import math

    from tsdb_parquet_spark.tsdb_wal import is_stale_marker, stale_marker

    m = stale_marker()
    assert math.isnan(m) and is_stale_marker(m)
    assert not is_stale_marker(float("nan"))  # ordinary NaN is data
    assert not is_stale_marker(1.0)


def test_stale_marker_survives_wal_roundtrip(tmp_path):
    from tsdb_parquet_spark.tsdb_wal import is_stale_marker, stale_marker

    w = WalWriter(str(tmp_path))
    w.log_series([(1, {"__name__": "m"})])
    w.log_samples([(1, 1000, 2.0), (1, 2000, stale_marker())])
    w.close()
    _, samples = read_wal(str(tmp_path))
    assert [is_stale_marker(v) for _, _, v in samples] == [False, True]


def test_wal_frame_stale_modes(spark, tmp_path):
    from tsdb_parquet_spark.tsdb_wal import stale_marker

    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, 1000, 2.0), (1, 2000, stale_marker())])
    w.close()
    keep = wal_to_samples_frame(spark, wal, ["__name__", "job"])
    assert keep.count() == 2 and "is_stale" not in keep.columns
    drop = wal_to_samples_frame(
        spark, wal, ["__name__", "job"], stale="drop"
    )
    assert [r["ts"] for r in drop.collect()] == [1000]
    mark = wal_to_samples_frame(
        spark, wal, ["__name__", "job"], stale="mark"
    )
    got = {r["ts"]: r["is_stale"] for r in mark.collect()}
    assert got == {1000: False, 2000: True}


def test_promql_staleness_terminates_lookback(spark, tmp_path):
    """The Prometheus staleness rule end-to-end: WAL with a stale
    marker -> stale-marked drain -> PromQL instant vector returns the
    series only at steps BEFORE the marker, and range vectors exclude
    the marker entirely."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.tsdb_wal import stale_marker

    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"}),
                  (2, {"__name__": "m", "job": "b"})])
    # series a: alive at 60s, marker at 120s; series b: alive throughout
    w.log_samples([(1, 60_000, 5.0), (2, 60_000, 7.0)])
    w.log_samples([(1, 120_000, stale_marker()), (2, 120_000, 8.0)])
    w.close()
    samples = wal_to_samples_frame(
        spark, wal, ["__name__", "job"], stale="mark"
    )
    engine = PromQLEngine(samples)
    # steps 60s, 120s, 180s with 5m lookback
    out = engine.query_range("m", 60_000, 180_000, 60_000).collect()
    got = sorted((r["t"], r["job"], r["value"]) for r in out)
    # series a appears ONLY at 60s — the marker kills 120s and, because
    # it is the most recent sample, every later step in lookback range
    assert got == [
        (60_000, "a", 5.0), (60_000, "b", 7.0),
        (120_000, "b", 8.0), (180_000, "b", 8.0),
    ]
    # range selection: markers are not samples
    cnt = engine.query_range(
        "count_over_time(m[2m])", 180_000, 180_000, 60_000
    ).collect()
    assert sorted((r["job"], r["value"]) for r in cnt) == [("b", 1.0)]
    # without stale marking, the marker leaks through as a NaN sample
    raw_engine = PromQLEngine(
        wal_to_samples_frame(spark, wal, ["__name__", "job"])
    )
    raw = raw_engine.query_range("m", 120_000, 120_000, 60_000).collect()
    assert len(raw) == 2  # stale-unaware: 'a' still yields a (NaN) row


def test_sync_wal_live_follow_loop(spark, tmp_path):
    """Continuous-follow integration: the head grows across four sync
    rounds (live-tail appends AND segment rolls); after every round the
    store equals a serial replay of the WAL as it stands — no sample
    lost, none duplicated."""
    import shutil

    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")

    def build(n_batches):
        # deterministic full rewrite: same prefix as the prior state,
        # exactly how a live head extends its open segment / rolls new
        # ones
        shutil.rmtree(wal, ignore_errors=True)
        w = WalWriter(wal, segment_bytes=PAGE_SIZE)
        w.log_series([(1, {"__name__": "m", "job": "a"}),
                      (2, {"__name__": "m", "job": "b"})])
        for k in range(n_batches):
            w.log_samples(
                [(1 + (j % 2), k * 1_000_000 + j, float(k))
                 for j in range(900)]
            )
        w.close()

    total = 0
    for step, n in enumerate((1, 2, 4, 6)):
        build(n)
        r = sync_wal(spark, wal, store, ["__name__", "job"])
        assert r["samples"] == (n - total) * 900 or (step == 0 and n == 1)
        total = n
        series, samples = read_wal(wal)
        want = sorted(
            (series[ref]["job"], ts, v) for ref, ts, v in samples
        )
        assert _store_samples(spark, store) == want


def test_sync_wal_series_resolved_from_side_table(spark, tmp_path):
    """Incremental series resolution: a later sync's samples reference
    a ref whose Series record lives in a long-sealed segment — it must
    resolve from the persisted side table, because only NEW segments
    are scanned for series records after the first sync."""
    import json

    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal, segment_bytes=PAGE_SIZE)
    w.log_series([(7, {"__name__": "m", "job": "sealed"})])
    w.log_samples([(7, j, 1.0) for j in range(1200)])  # rolls segment 0
    w.log_samples([(7, 10_000, 2.0)])
    w.close()
    sync_wal(spark, wal, store, ["__name__", "job"])
    state = json.load(open(os.path.join(store, "_wal_sync.json")))
    assert state["series_table"] is not None
    # a brand-new segment arrives with samples only (no series record)
    nxt = WalWriter(
        wal,
        segment_bytes=PAGE_SIZE,
        first_segment=len(discover_wal_segments(wal)),
    )
    nxt.log_samples([(7, 20_000, 3.0)])
    nxt.close()
    r = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r["samples"] == 1
    got = _store_samples(spark, store)
    assert ("sealed", 20_000, 3.0) in got
    # no new series appeared: the table version must NOT have advanced
    state2 = json.load(open(os.path.join(store, "_wal_sync.json")))
    assert state2["series_table"] == state["series_table"]


def test_live_samples_frame_store_plus_delta(spark, tmp_path):
    """Freshness read: after a sync, new head appends are visible via
    live_samples_frame WITHOUT another sync — store content plus the
    undrained delta, no sample duplicated at the seam."""
    from tsdb_parquet_spark.tsdb_wal import live_samples_frame, sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    _grow_wal(wal, 2, tmp_path)
    sync_wal(spark, wal, store, ["__name__", "job"])
    # the head moves on; no sync has run since
    _grow_wal(wal, 4, tmp_path)
    live = live_samples_frame(spark, wal, store, ["__name__", "job"])
    got = sorted(
        (r["job"], r["ts"], r["value"]) for r in live.collect()
    )
    series, samples = read_wal(wal)
    want = sorted((series[ref]["job"], ts, v) for ref, ts, v in samples)
    assert got == want  # complete AND duplicate-free
    # after draining the delta, the same read returns the same rows
    sync_wal(spark, wal, store, ["__name__", "job"])
    again = live_samples_frame(spark, wal, store, ["__name__", "job"])
    assert sorted(
        (r["job"], r["ts"], r["value"]) for r in again.collect()
    ) == want


def test_live_samples_frame_feeds_promql(spark, tmp_path):
    """The freshness frame drops straight into the PromQL engine."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.tsdb_wal import live_samples_frame, sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, 30_000, 5.0)])
    w.close()
    sync_wal(spark, wal, store, ["__name__", "job"])
    # append to the open segment (deterministic rewrite)
    import shutil

    shutil.rmtree(wal)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, 30_000, 5.0)])
    w.log_samples([(1, 55_000, 7.0)])
    w.close()
    live = live_samples_frame(spark, wal, store, ["__name__", "job"])
    out = PromQLEngine(live).query_range(
        "m", 60_000, 60_000, 60_000
    ).collect()
    assert len(out) == 1 and out[0]["value"] == 7.0  # the unsynced point


def test_mixed_block_and_walsync_parts_compact(spark, tmp_path):
    """A store fed by BOTH sync_blocks (parts with ordinal-tagged
    __series__id) and sync_wal (id-less parts, ids deferred) must
    compact: the merge drops the column and assigns dense ids over the
    union — file-local identity makes that legal.  This is exactly the
    store `cli sync` maintains on a live data dir."""
    import numpy as np

    from tsdb_parquet_spark.chunks import chunks_to_samples
    from tsdb_parquet_spark.schema import SERIES_ID, sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )
    from tsdb_parquet_spark.tsdb_block import sync_blocks, write_block
    from tsdb_parquet_spark.tsdb_wal import sync_wal
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    data = tmp_path / "data"
    data.mkdir()
    ts = np.arange(3, dtype=np.int64) * 1000
    write_block(
        str(data / "b"),
        [({"__name__": "m", "job": "blk"},
          [(0, 2000, encode_xor_chunk(ts, ts / 1000.0))])],
    )
    os.rename(str(data / "b"), str(data / "01CCCCCCCCCCCCCCCCCCCCCCCC"))
    w = WalWriter(str(data / "wal"))
    w.log_series([(1, {"__name__": "m", "job": "head"})])
    w.log_samples([(1, 9000, 9.0)])
    w.close()
    store = str(tmp_path / "store")
    sync_blocks(spark, str(data), store, ["__name__", "job"])
    sync_wal(spark, str(data / "wal"), store, ["__name__", "job"])
    writer = SortedParquetWriter(
        spark,
        store,
        WriterOptions(
            sort_columns=sort_columns(["__name__", "job"]),
            bloom_columns=["job"],
            max_files=4,
        ),
    )
    compacted = writer.compact()
    df = spark.read.parquet(compacted)
    assert SERIES_ID in df.columns
    got = sorted(
        (r["job"], r["ts"], r["value"])
        for r in chunks_to_samples(df, ["__name__", "job"]).collect()
    )
    assert got == [
        ("blk", 0, 0.0), ("blk", 1000, 1.0), ("blk", 2000, 2.0),
        ("head", 9000, 9.0),
    ]
    # ids are dense over the union
    ids = sorted(r[SERIES_ID] for r in df.select(SERIES_ID).distinct().collect())
    assert ids == list(range(len(ids)))


def test_cli_sync_and_promql_live(spark, tmp_path):
    """The operational CLI loop end-to-end as subprocesses: `sync` a
    data dir (block + compressed head WAL), then `promql --wal` must
    see samples appended AFTER the sync — Prometheus-fresh results
    from the command line."""
    import subprocess
    import sys

    import numpy as np

    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    data = tmp_path / "data"
    data.mkdir()
    ts = np.array([10_000, 20_000], dtype=np.int64)
    write_block(
        str(data / "b"),
        [({"__name__": "m", "job": "a"},
          [(10_000, 20_000, encode_xor_chunk(ts, np.array([1.0, 2.0])))])],
    )
    os.rename(str(data / "b"), str(data / "01DDDDDDDDDDDDDDDDDDDDDDDD"))
    w = WalWriter(str(data / "wal"), compression="snappy")
    w.log_series([(1, {"__name__": "m", "job": "b"})])
    w.log_samples([(1, 30_000, 5.0)])
    w.close()
    store = str(tmp_path / "store")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "tsdb_parquet_spark.cli", "sync",
         "--data-dir", str(data), "--store", store,
         "--labels", "__name__,job"],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "1 block(s)" in proc.stderr and "head: 1 new" in proc.stderr
    # the head moves on AFTER the sync (deterministic rewrite append)
    import shutil

    shutil.rmtree(str(data / "wal"))
    w = WalWriter(str(data / "wal"), compression="snappy")
    w.log_series([(1, {"__name__": "m", "job": "b"})])
    w.log_samples([(1, 30_000, 5.0)])
    w.log_samples([(1, 40_000, 9.0)])
    w.close()
    proc = subprocess.run(
        [sys.executable, "-m", "tsdb_parquet_spark.cli", "promql",
         "sum(m)", "--store", store, "--wal", str(data / "wal"),
         "--labels", "__name__,job",
         "--start", "40000", "--end", "40000", "--step", "10000",
         "--lookback", "40000"],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # latest per series within lookback: block 2.0 + unsynced head 9.0
    assert "'value': 11.0" in proc.stdout, proc.stdout[-500:]


def test_cli_promql_data_dir_direct(spark, tmp_path):
    """`promql --data-dir`: evaluate straight off a raw Prometheus
    installation (block + head WAL), no sync/store step, with the
    /api/v1/query_range response body via --api-json."""
    import json
    import subprocess
    import sys

    import numpy as np

    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    data = tmp_path / "data"
    data.mkdir()
    ts = np.array([10_000, 20_000], dtype=np.int64)
    write_block(
        str(data / "b"),
        [({"__name__": "m", "job": "a"},
          [(10_000, 20_000, encode_xor_chunk(ts, np.array([1.0, 2.0])))])],
    )
    os.rename(str(data / "b"), str(data / "01DDDDDDDDDDDDDDDDDDDDDDDD"))
    w = WalWriter(str(data / "wal"), compression="snappy")
    w.log_series([(1, {"__name__": "m", "job": "b"})])
    w.log_samples([(1, 30_000, 5.0)])
    w.close()
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "tsdb_parquet_spark.cli", "promql",
         "sum(m)", "--data-dir", str(data),
         "--labels", "__name__,job",
         "--start", "30000", "--end", "30000", "--step", "10000",
         "--lookback", "30000", "--api-json"],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    resp = json.loads(proc.stdout.strip().splitlines()[-1])
    # block series latest 2.0 (t=20s) + WAL head series 5.0 (t=30s)
    assert resp["data"]["result"] == [
        {"metric": {}, "values": [[30.0, "7"]]}
    ]


def test_data_dir_block_pruning_by_query_window(spark, tmp_path):
    """mint/maxt on data_dir_to_chunk_frame prune whole blocks by their
    meta windows before any index parse, and the pruned evaluation is
    value-identical to the unpruned one inside the window."""
    import numpy as np

    from tsdb_parquet_spark.tsdb_block import (
        prune_blocks_by_time,
        write_block,
    )
    from tsdb_parquet_spark.tsdb_wal import (
        data_dir_to_chunk_frame,
        discover_data_dir,
    )
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    day = 24 * 3600 * 1000
    data = tmp_path / "data"
    data.mkdir()
    for i in range(3):
        ts = np.array([i * day + 1_000, i * day + 2_000], dtype=np.int64)
        d = str(data / f"b{i}")
        write_block(
            d,
            [({"__name__": "m", "job": "a"},
              [(int(ts[0]), int(ts[-1]),
                encode_xor_chunk(ts, np.array([1.0 * i, 2.0 * i])))])],
        )
        os.rename(d, str(data / f"01B{i}AAAAAAAAAAAAAAAAAAAAAA"))
    blocks, _ = discover_data_dir(str(data))
    assert len(blocks) == 3
    # window inside day 1 only
    kept = prune_blocks_by_time(blocks, day + 500, day + 5_000)
    assert len(kept) == 1
    pruned = data_dir_to_chunk_frame(
        spark, str(data), ["__name__", "job"],
        mint=day + 500, maxt=day + 5_000,
    )
    # exactly the one in-window block's chunk survives
    rows = pruned.collect()
    assert len(rows) == 1
    assert rows[0]["__mint"] == day + 1_000
    # empty window with no WAL: empty frame, correct schema, no error
    empty = data_dir_to_chunk_frame(
        spark, str(data), ["__name__", "job"],
        mint=10 * day, maxt=11 * day,
    )
    assert empty.count() == 0
    assert dict(empty.dtypes)["__ts"] == "array<bigint>"
    assert dict(empty.dtypes)["__values"] == "array<double>"


# -- round-10 advice fixes ----------------------------------------------------


def test_sealed_segment_torn_fragment_chain_raises(tmp_path):
    """ADVICE r09: a SEALED segment ending mid fragment chain
    (FIRST/MIDDLE seen, no LAST) lost its pending record — strict mode
    must raise like every other framing violation; tolerate_tail (the
    live-segment crash-recovery mode) still repairs silently."""
    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m"})])
    # one samples record far larger than a page: FIRST + MIDDLE/LAST
    w.log_samples([(1, t, 1.0) for t in range(5000)])
    w.close()
    seg = discover_wal_segments(wal)[0]
    data = open(seg, "rb").read()
    torn = data[:PAGE_SIZE]  # valid page 1, chain never closed
    with pytest.raises(WalCorruptionError, match="mid fragment chain"):
        list(iter_segment_records(torn, tolerate_tail=False))
    repaired = list(iter_segment_records(torn, tolerate_tail=True))
    assert len(repaired) == 1  # the series record survives


def test_live_samples_frame_finalized_store_not_double_read(
    spark, tmp_path
):
    """ADVICE r09 (high): a finalized store holds the `compact` alias
    symlink AND its compact.N target, plus folded part dirs awaiting
    vacuum — the freshness read must resolve the LIVE set via the
    manifest, not a glob, or every store-side sample counts 2-3x."""
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )
    from tsdb_parquet_spark.tsdb_wal import live_samples_frame, sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    _grow_wal(wal, 2, tmp_path)
    sync_wal(spark, wal, store, ["__name__", "job"])
    opts = WriterOptions(sort_columns=sort_columns(["__name__", "job"]))
    SortedParquetWriter(spark, store, opts).compact()
    # the hostile layout: alias symlink + its target + the folded part
    assert os.path.islink(os.path.join(store, "compact"))
    assert os.path.isdir(os.path.join(store, "compact.0"))
    assert os.path.isdir(os.path.join(store, "part.walsync00000000"))
    _grow_wal(wal, 4, tmp_path)  # head moves on, no sync since
    live = live_samples_frame(spark, wal, store, ["__name__", "job"])
    got = sorted((r["job"], r["ts"], r["value"]) for r in live.collect())
    series, samples = read_wal(wal)
    want = sorted((series[ref]["job"], ts, v) for ref, ts, v in samples)
    assert got == want  # complete AND exactly-once


def test_live_samples_frame_skips_pure_duplicate_checkpoint(
    spark, tmp_path
):
    """ADVICE r09: between Prometheus writing checkpoint.N and the next
    sync run, the freshness read's delta plan must skip a checkpoint
    that only rewrites already-drained segments (same floor logic as
    sync_wal), or those samples transiently double-count."""
    from tsdb_parquet_spark.tsdb_wal import live_samples_frame, sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal, segment_bytes=PAGE_SIZE)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    for k in range(3):
        w.log_samples([(1, k * 100_000 + j, 1.0) for j in range(1200)])
    w.close()
    segs = discover_wal_segments(wal)
    sync_wal(spark, wal, store, ["__name__", "job"])
    # Prometheus checkpoints segments <= n_seal-1, rewriting two
    # already-synced samples, and truncates the originals — NO sync runs
    n_seal = len(segs) - 1
    write_checkpoint(
        wal,
        n_seal - 1,
        [(1, {"__name__": "m", "job": "a"})],
        [(1, 0, 1.0), (1, 1, 1.0)],
    )
    for p in segs[:n_seal]:
        os.remove(p)
    live = live_samples_frame(spark, wal, store, ["__name__", "job"])
    rows = live.collect()
    assert len(rows) == 3600  # every sample exactly once, no dup seam


def test_sync_wal_retro_tombstone_reported(spark, tmp_path):
    """Verdict r09 #5: a delete-API tombstone logged AFTER its samples
    were synced cannot retro-delete from the store — the sync report
    must surface it (count + affected refs) instead of silence."""
    from tsdb_parquet_spark.tsdb_wal import sync_wal

    wal = str(tmp_path / "wal")
    store = str(tmp_path / "store")
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m", "job": "a"})])
    w.log_samples([(1, 1000, 1.0), (1, 2000, 2.0)])
    w.close()
    r1 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r1["samples"] == 2
    assert r1["retro_stones"] == 0 and r1["retro_refs"] == []
    # the delete API logs a stone covering the ALREADY-SYNCED range,
    # then a fresh sample arrives
    w = WalWriter(wal, first_segment=1)
    w.log_tombstones([(1, 0, 1500)])
    w.log_samples([(1, 3000, 3.0)])
    w.close()
    r2 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r2["retro_stones"] == 1 and r2["retro_refs"] == [1]
    # the new batch itself IS stone-filtered; only ts=3000 lands
    assert ("a", 3000, 3.0) in _store_samples(spark, store)
    # already-reported stones don't re-report on the next sync
    w = WalWriter(wal, first_segment=2)
    w.log_samples([(1, 4000, 4.0)])
    w.close()
    r3 = sync_wal(spark, wal, store, ["__name__", "job"])
    assert r3["retro_stones"] == 0


def test_metadata_record_roundtrip_and_reader(tmp_path, spark):
    """record.Metadata (type 6): ref uvarint + metric-type byte + named
    uvarint-string fields (unit/help; unknown names ignored on read).
    `read_wal_metadata` keeps the LATEST entry per ref across the WAL
    — Prometheus re-logs metadata when it changes."""
    from tsdb_parquet_spark.tsdb_wal import (
        decode_metadata_record,
        encode_metadata_record,
        read_wal_metadata,
    )

    entries = [
        (1, "counter", "seconds", "Total request time."),
        (2, "gauge", "", 'weird "help" with\nnewline'),
    ]
    assert decode_metadata_record(encode_metadata_record(entries)) == entries
    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m"})])
    w.log_metadata(entries)
    w.log_samples([(1, 1000, 1.0)])
    w.log_metadata([(1, "gauge", "bytes", "Repurposed.")])  # update wins
    w.close()
    meta = read_wal_metadata(wal)
    assert meta[1] == ("gauge", "bytes", "Repurposed.")
    assert meta[2] == ("gauge", "", 'weird "help" with\nnewline')
    # the sample/series drain is untouched by metadata records
    df = wal_to_samples_frame(spark, wal, label_names=["__name__"])
    assert [(r["ts"], r["value"]) for r in df.collect()] == [(1000, 1.0)]


def test_mmap_markers_skipped_and_histograms_separate(tmp_path, spark):
    """MmapMarkers (type 5) are head-internal flush bookkeeping — every
    drain skips them; native-histogram records (types 7/8) do NOT leak
    into the float-sample drain (they drain via
    wal_to_histogram_frame)."""
    from tsdb_parquet_spark.histograms import NativeHistogram
    from tsdb_parquet_spark.tsdb_wal import encode_mmap_markers_record

    wal = str(tmp_path)
    w = WalWriter(wal)
    w.log_series([(1, {"__name__": "m"})])
    w.log_mmap_markers([(1, 42 << 32), (1, 43 << 32)])
    w.log_histograms(
        [(1, 500, NativeHistogram(schema=0, count=1, sum=2.0,
                                  positive_spans=((0, 1),),
                                  positive_buckets=(1.0,)))]
    )
    w.log_samples([(1, 1000, 2.0)])
    w.close()
    df = wal_to_samples_frame(spark, wal, label_names=["__name__"])
    assert [(r["ts"], r["value"]) for r in df.collect()] == [(1000, 2.0)]


def test_data_dir_select_pushes_into_blocks_and_wal(spark, tmp_path):
    """`select` prunes BOTH origins: block tasks resolve it via the
    per-(label,value) postings, WAL-origin samples filter on the same
    labels before re-chunking — the union equals post-filtering the
    full frame."""
    import numpy as np

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import write_block
    from tsdb_parquet_spark.tsdb_wal import data_dir_to_chunk_frame
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk

    data_dir = str(tmp_path)
    ts = np.array([1000, 2000], dtype=np.int64)
    write_block(
        os.path.join(data_dir, "blk"),
        [({"__name__": n, "job": "a"},
          [(1000, 2000, encode_xor_chunk(ts, np.array([1.0, 2.0])))])
         for n in ("m", "other")],
    )
    os.rename(
        os.path.join(data_dir, "blk"),
        os.path.join(data_dir, "01HZZZZZZZZZZZZZZZZZZZZZZX"),
    )
    w = WalWriter(os.path.join(data_dir, "wal"))
    w.log_series(
        [(1, {"__name__": "m", "job": "a"}),
         (2, {"__name__": "other", "job": "a"})]
    )
    w.log_samples([(1, 4000, 4.0), (2, 4000, 40.0)])
    w.close()

    frame = data_dir_to_chunk_frame(
        spark, data_dir, ["__name__", "job"], chunk_span_ms=10_000,
        select={"__name__": ["m"]},
    )
    decoded = frame.transform(with_sample_arrays).select(
        "__name__",
        F.explode(sample_structs()).alias("s"),
    ).collect()
    got = sorted((r["__name__"], r["s"]["ts"], r["s"]["value"])
                 for r in decoded)
    assert got == [("m", 1000, 1.0), ("m", 2000, 2.0), ("m", 4000, 4.0)]
