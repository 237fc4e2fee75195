"""Prometheus TSDB block format (tsdb_block.py) — the reference
converter's input (`cmd/convert/main.go:30-126`).  Round-trips against
the public spec (tsdb/docs/format/index.md, chunks.md), CRC-32C known
answers, corruption detection, and the distributed block->chunk-frame
ingestion composing with the XOR codec and ChunkQuerier."""

import os
import shutil
import struct

import numpy as np
import pytest

from tsdb_parquet_spark.tsdb_block import (
    block_to_chunk_frame,
    blocks_to_chunk_frame,
    crc32c,
    read_chunk_record,
    read_index,
    write_block,
    write_chunks_segments,
    write_index,
)
from tsdb_parquet_spark.xorchunk import decode_xor_chunk, encode_xor_chunk

WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".work",
    "tsdb_block_tests",
)


def _block_dir(name):
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def test_crc32c_known_answer():
    # the standard CRC-32C check value (RFC 3720 appendix B / Castagnoli)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_chunks_segment_roundtrip_and_corruption():
    d = _block_dir("seg")
    blobs = [b"alpha", b"", b"\x00" * 300, bytes(range(256))]
    refs = write_chunks_segments(d, blobs)
    assert [r >> 32 for r in refs] == [1, 1, 1, 1]
    seg = open(os.path.join(d, "chunks", "000001"), "rb").read()
    magic, version = struct.unpack_from(">IB", seg, 0)
    assert magic == 0x85BD40DD and version == 1
    for ref, blob in zip(refs, blobs):
        enc, data = read_chunk_record(seg, ref & 0xFFFFFFFF)
        assert enc == 1 and data == blob
    # flip one payload byte of the third record: crc must catch it
    off = (refs[2] & 0xFFFFFFFF) + 2  # inside its payload
    bad = bytearray(seg)
    bad[off + 5] ^= 0xFF
    with pytest.raises(ValueError, match="crc32c"):
        read_chunk_record(bytes(bad), refs[2] & 0xFFFFFFFF)


def test_index_roundtrip_sorted_dense_and_missing_labels():
    d = _block_dir("idx")
    series = [
        # deliberately unsorted; inter-chunk mint deltas are UNSIGNED
        # uvarints per the spec (chunks time-ordered, non-overlapping);
        # ref deltas exercise the signed varint (100 -> 90 is negative)
        ({"__name__": "b_metric", "job": "api"}, [(1000, 2000, 40)]),
        (
            {"__name__": "a_metric", "job": "api", "shard": "7"},
            [(5000, 9000, 8), (9000, 12000, 100), (13000, 15000, 90)],
        ),
        ({"__name__": "a_metric"}, [(0, 10, 7)]),
    ]
    write_index(d, series)
    back = read_index(d)
    # label-sorted order, per the format invariant
    assert [labels for labels, _ in back] == [
        {"__name__": "a_metric"},
        {"__name__": "a_metric", "job": "api", "shard": "7"},
        {"__name__": "b_metric", "job": "api"},
    ]
    assert back[1][1] == [(5000, 9000, 8), (9000, 12000, 100), (13000, 15000, 90)]
    assert back[0][1] == [(0, 10, 7)]
    # corrupting the TOC crc fails loudly
    buf = bytearray(open(os.path.join(d, "index"), "rb").read())
    buf[-1] ^= 0xFF
    open(os.path.join(d, "index"), "wb").write(bytes(buf))
    with pytest.raises(ValueError, match="TOC"):
        read_index(d)


def test_index_rejects_overlapping_chunk_windows():
    # the spec's uvarint mint delta cannot represent mint_i < maxt_{i-1};
    # the writer must refuse rather than emit bytes Prometheus misreads
    d = _block_dir("idx_overlap")
    with pytest.raises(ValueError, match="non-overlapping"):
        write_index(
            d, [({"__name__": "m"}, [(0, 100, 1), (50, 200, 2)])]
        )


def test_index_rejects_version_1():
    # v1 symbol refs are absolute offsets — parsing with v2 semantics
    # would produce garbage, so read_index fails loudly
    d = _block_dir("idx_v1")
    write_index(d, [({"__name__": "m"}, [(0, 10, 1)])])
    path = os.path.join(d, "index")
    buf = bytearray(open(path, "rb").read())
    buf[4] = 1  # version byte
    open(path, "wb").write(bytes(buf))
    with pytest.raises(ValueError, match="version 1"):
        read_index(d)


def test_meta_ulid_is_spec_valid_and_deterministic():
    # 26 Crockford base32 chars, first <= '7' (128-bit bound), no I/L/O/U
    # — ulid.Parse (tsdb.OpenBlock's gate) accepts exactly this shape
    import json

    d = _block_dir("ulid")
    series = _sample_series()
    ulid = write_block(d, [(labels, chs) for labels, chs, _ in series])
    meta = json.load(open(os.path.join(d, "meta.json")))
    assert meta["ulid"] == ulid
    assert len(ulid) == 26
    crockford = set("0123456789ABCDEFGHJKMNPQRSTVWXYZ")
    assert set(ulid) <= crockford
    assert ulid[0] <= "7"
    # deterministic: same content -> same ulid
    d2 = _block_dir("ulid2")
    ulid2 = write_block(d2, [(labels, chs) for labels, chs, _ in series])
    assert ulid2 == ulid


def _sample_series():
    rng = np.random.default_rng(11)
    series = []
    for job in ("api", "web"):
        for shard in ("0", "1"):
            ts = (
                np.cumsum(rng.integers(10_000, 30_000, 40))
                + 1_700_000_000_000
            ).astype(np.int64)
            vals = np.round(rng.standard_normal(40), 3)
            blob = encode_xor_chunk(ts, vals)
            series.append(
                (
                    {"__name__": "m", "job": job, "shard": shard},
                    [(int(ts[0]), int(ts[-1]), blob)],
                    (ts, vals),
                )
            )
    return series


def test_write_block_read_index_meta():
    d = _block_dir("block")
    series = _sample_series()
    write_block(d, [(labels, chs) for labels, chs, _ in series])
    assert os.path.exists(os.path.join(d, "meta.json"))
    back = read_index(d)
    assert len(back) == 4
    # every ref resolves to the exact XOR payload we encoded
    seg = open(os.path.join(d, "chunks", "000001"), "rb").read()
    by_labels = {tuple(sorted(l.items())): s for l, c, s in series}
    for labels, metas in back:
        ts, vals = by_labels[tuple(sorted(labels.items()))]
        (mint, maxt, ref) = metas[0]
        assert (mint, maxt) == (int(ts[0]), int(ts[-1]))
        enc, data = read_chunk_record(seg, ref & 0xFFFFFFFF)
        t2, v2 = decode_xor_chunk(data)
        assert list(t2) == list(ts)
        assert list(v2) == list(vals)


def test_block_to_chunk_frame_end_to_end(spark):
    """The full converter parity: block dir -> distributed chunk frame
    (reference schema) -> codec-sniffing decode -> original samples; the
    frame drops straight into ChunkQuerier."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.operators.selection import Matcher
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.schema import CHUNK_BYTES, SERIES_ID

    d = _block_dir("convert")
    series = _sample_series()
    write_block(d, [(labels, chs) for labels, chs, _ in series])
    frame = block_to_chunk_frame(spark, d)
    assert set(frame.columns) == {
        SERIES_ID, "__mint", "__maxt", CHUNK_BYTES,
        "__name__", "job", "shard",
    }
    rows = frame.select(SERIES_ID, "job", "shard").distinct().collect()
    ids = sorted(r[SERIES_ID] for r in rows)
    assert ids == [0, 1, 2, 3]  # dense, label-sorted, file-local

    decoded = frame.transform(with_sample_arrays).select(
        "job", "shard", F.explode(sample_structs()).alias("s")
    )
    got = {
        (r["job"], r["shard"]): r["n"]
        for r in decoded.groupBy("job", "shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {(j, s): 40 for j in ("api", "web") for s in ("0", "1")}
    # exact sample values survive for one series
    ts, vals = next(
        s for l, c, s in series if l["job"] == "api" and l["shard"] == "0"
    )
    back = (
        decoded.filter((F.col("job") == "api") & (F.col("shard") == "0"))
        .select("s.ts", "s.value")
        .orderBy("ts")
        .collect()
    )
    assert [r["ts"] for r in back] == list(ts)
    assert [r["value"] for r in back] == list(vals)

    # and the frame is querier-ready as-is
    q = ChunkQuerier(frame)
    sel = q.select(
        mint=0, maxt=2_000_000_000_000,
        matchers=[Matcher("job", "=", "api")],
        grouping=["job", "shard"],
    )
    assert sel.count() == 2


def test_blocks_to_chunk_frame_multi_block_farm(spark):
    """The block-farm shape: >=3 blocks, index parse AND payload fetch
    executor-side, exactly one task per block; per-block file-local
    series ids disambiguated by the block ordinal in the high bits;
    heterogeneous label schemas ""-fill."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.schema import SERIES_ID

    dirs = []
    all_samples = {}  # (block, job, shard) -> (ts, vals)
    for b in range(3):
        d = _block_dir(f"farm{b}")
        rng = np.random.default_rng(100 + b)
        series = []
        for shard in ("0", "1"):
            ts = (
                np.cumsum(rng.integers(10_000, 30_000, 25))
                + 1_700_000_000_000
                + b * 10_000_000
            ).astype(np.int64)
            vals = np.round(rng.standard_normal(25), 3)
            labels = {"__name__": "m", "shard": shard}
            if b == 2:
                labels["extra"] = "yes"  # heterogeneous schema
            series.append(
                (labels, [(int(ts[0]), int(ts[-1]), encode_xor_chunk(ts, vals))])
            )
            all_samples[(b, shard)] = (ts, vals)
        write_block(d, series)
        dirs.append(d)

    frame = blocks_to_chunk_frame(
        spark, dirs, ["__name__", "shard", "extra"]
    )
    # one task per block — the scale contract: not just 3 partitions,
    # but each serving exactly one block (hash repartition skews; the
    # parallelize slicing must not)
    assert frame.rdd.getNumPartitions() == 3
    pid_blk = {
        (r["pid"], r["blk"])
        for r in frame.select(
            F.spark_partition_id().alias("pid"),
            F.shiftrightunsigned(F.col(SERIES_ID), 32).alias("blk"),
        ).distinct().collect()
    }
    assert len(pid_blk) == 3 and len({p for p, _ in pid_blk}) == 3

    rows = frame.select(SERIES_ID, "shard", "extra").collect()
    blocks_seen = sorted({r[SERIES_ID] >> 32 for r in rows})
    assert blocks_seen == [0, 1, 2]
    # ""-fill for the label only block 2 has
    assert {r["extra"] for r in rows if r[SERIES_ID] >> 32 == 2} == {"yes"}
    assert {r["extra"] for r in rows if r[SERIES_ID] >> 32 < 2} == {""}

    decoded = frame.transform(with_sample_arrays).select(
        F.shiftrightunsigned(F.col(SERIES_ID), 32).alias("blk"),
        "shard",
        F.explode(sample_structs()).alias("s"),
    )
    got = {
        (r["blk"], r["shard"]): (r["n"], round(r["sv"], 3))
        for r in decoded.groupBy("blk", "shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("s.value").alias("sv"))
        .collect()
    }
    want = {
        (b, s): (25, round(float(np.sum(v)), 3))
        for (b, s), (t, v) in all_samples.items()
    }
    assert got == want


def test_read_index_golden_bytes_hand_assembled():
    """Parse an index assembled BYTE BY BYTE here from the spec alone
    (tsdb/docs/format/index.md), independent of write_index — so a
    self-consistent-but-wrong writer+reader pair (the r07 zigzag
    mint-delta bug's failure mode) cannot hide: the reader must decode
    spec bytes, not our bytes."""
    import struct as st

    def uv(x):  # uvarint
        out = bytearray()
        while x >= 0x80:
            out.append((x & 0x7F) | 0x80)
            x >>= 7
        out.append(x)
        return bytes(out)

    def vz(x):  # zigzag varint
        return uv((x << 1) if x >= 0 else ((-x) << 1) - 1)

    def section(content):
        return st.pack(">I", len(content)) + content + st.pack(
            ">I", crc32c(content)
        )

    # symbols: "", "a_metric", "__name__", sorted -> ["", "__name__",
    # "a_metric"]; v2 references are sequence numbers
    syms = ["", "__name__", "a_metric"]
    sym_content = st.pack(">I", len(syms))
    for s in syms:
        raw = s.encode()
        sym_content += uv(len(raw)) + raw

    out = bytearray(st.pack(">IB", 0xBAAAD700, 2))
    toc_symbols = len(out)
    out += section(sym_content)
    while len(out) % 16:
        out.append(0)
    toc_series = len(out)
    series_ref = len(out) // 16
    # one series {__name__="a_metric"} with chunks (100,200,ref 7) and
    # (250,300,ref 3): labels, then per the SPEC — first chunk mint as
    # zigzag varint, span uvarint, ref uvarint; later chunks mint delta
    # vs prev maxt as UVARINT (not zigzag), span uvarint, ref delta
    # zigzag varint (here negative: 3-7 = -4)
    content = uv(1) + uv(1) + uv(2)          # 1 label: __name__ -> a_metric
    content += uv(2)                          # 2 chunks
    content += vz(100) + uv(100) + uv(7)      # first chunk
    content += uv(50) + uv(50) + vz(-4)       # second: mint 250 = 200+50
    out += uv(len(content)) + content + st.pack(">I", crc32c(content))
    while len(out) % 4:
        out.append(0)
    toc_li = len(out)
    out += section(st.pack(">I", 0))          # empty label indices
    toc_postings = len(out)
    all_off = len(out)
    out += section(st.pack(">II", 1, series_ref))
    toc_po = len(out)
    po = st.pack(">I", 1) + uv(2) + uv(0) + uv(0) + uv(all_off)
    out += section(po)
    toc = st.pack(">QQQQQQ", toc_symbols, toc_series, toc_li, toc_li,
                  toc_postings, toc_po)
    out += toc + st.pack(">I", crc32c(toc))

    d = _block_dir("golden")
    with open(os.path.join(d, "index"), "wb") as fh:
        fh.write(bytes(out))
    back = read_index(d)
    assert back == [
        ({"__name__": "a_metric"}, [(100, 200, 7), (250, 300, 3)])
    ]


def test_cli_convert_block_input(spark):
    """`cli convert --block <dir>` — the reference converter's actual
    CLI contract (`cmd/convert/main.go`): TSDB block in, sorted chunk
    store out.  Runs as a subprocess because the command owns its
    session lifecycle; the resulting store is then read and decoded
    with the test session."""
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays

    d = _block_dir("cli_convert")
    series = _sample_series()
    write_block(d, [(labels, chs) for labels, chs, _ in series])
    out = os.path.join(WORK, "cli_convert_store")
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "tsdb_parquet_spark.cli", "convert",
         "--block", d, "--out", out],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    store = spark.read.parquet(os.path.join(out, "compact"))
    assert store.count() == 4  # one chunk per series
    n = store.transform(with_sample_arrays).select(
        F.explode(sample_structs()).alias("s")
    ).count()
    assert n == 4 * 40  # every sample survives the CLI round trip


# ---------------------------------------------------------------------------
# property-based index round-trip (hypothesis): arbitrary spec-legal
# label sets and chunk metas, including the encodings' edge shapes —
# negative first mint (zigzag), zero-width chunks, back-to-back windows
# (mint_i == maxt_{i-1}, uvarint delta 0), and ref deltas of any sign.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_label_name = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
)
_label_value = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    min_size=0,
    max_size=12,
)


@st.composite
def _series_list(draw):
    n_series = draw(st.integers(1, 6))
    out = []
    seen = set()
    for _ in range(n_series):
        labels = draw(
            st.dictionaries(_label_name, _label_value, min_size=1, max_size=4)
        )
        key = tuple(sorted(labels.items()))
        if key in seen:  # the format keys series by label set
            continue
        seen.add(key)
        n_chunks = draw(st.integers(1, 5))
        mint = draw(st.integers(-(2**40), 2**40))
        metas = []
        for _ in range(n_chunks):
            span = draw(st.integers(0, 2**32))
            maxt = mint + span
            ref = draw(st.integers(0, 2**40))
            metas.append((mint, maxt, ref))
            # next chunk starts at or after this one's maxt (spec:
            # non-overlapping, time-ordered; uvarint delta >= 0)
            mint = maxt + draw(st.integers(0, 2**20))
        out.append((labels, metas))
    return out


@settings(max_examples=60, deadline=None)
@given(series=_series_list())
def test_index_roundtrip_property(series):
    import shutil as _shutil
    import tempfile

    d = tempfile.mkdtemp(dir=WORK)
    try:
        write_index(d, series)
        back = read_index(d)
        want = sorted(series, key=lambda s: sorted(s[0].items()))
        assert [labels for labels, _ in back] == [l for l, _ in want]
        assert [metas for _, metas in back] == [m for _, m in want]
    finally:
        _shutil.rmtree(d, ignore_errors=True)


def test_sync_blocks_incremental_idempotent(spark):
    """The continuous-migration workflow: a Prometheus data dir gains
    blocks over time; each sync converts only the new ones (ULID
    sidecar), one farm job per batch, stable per-block ordinals across
    batches, and re-runs are no-ops."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.schema import SERIES_ID
    from tsdb_parquet_spark.sources.writer import read_roots
    from tsdb_parquet_spark.tsdb_block import discover_blocks, sync_blocks

    data_dir = _block_dir("sync_data")
    store = os.path.join(WORK, "sync_store")
    shutil.rmtree(store, ignore_errors=True)

    def add_block(name, t0, val):
        rng = np.random.default_rng(hash(name) % 2**32)
        ts = (np.cumsum(rng.integers(10_000, 20_000, 30)) + t0).astype(
            np.int64
        )
        vals = np.full(30, float(val))
        d = os.path.join(data_dir, name)
        os.makedirs(d, exist_ok=True)
        write_block(
            d,
            [({"__name__": "m", "blockname": name},
              [(int(ts[0]), int(ts[-1]), encode_xor_chunk(ts, vals))])],
        )

    add_block("b0", 1_000_000, 1.0)
    add_block("b1", 2_000_000, 2.0)
    assert len(discover_blocks(data_dir)) == 2

    labels = ["__name__", "blockname"]
    r1 = sync_blocks(spark, data_dir, store, labels)
    assert len(r1["converted"]) == 2 and r1["skipped"] == []
    add_block("b2", 3_000_000, 3.0)
    r2 = sync_blocks(spark, data_dir, store, labels)
    assert len(r2["converted"]) == 1 and len(r2["skipped"]) == 2
    r3 = sync_blocks(spark, data_dir, store, labels)
    assert r3 == {"converted": [], "skipped": r3["skipped"], "part": None}
    assert len(r3["skipped"]) == 3

    df = read_roots(spark, [r1["part"], r2["part"]])
    rows = df.transform(with_sample_arrays).select(
        SERIES_ID,
        "blockname",
        F.explode(sample_structs()).alias("s"),
    )
    got = {
        (r["blockname"], r["blk"]): (r["n"], r["sv"])
        for r in rows.groupBy(
            "blockname",
            F.shiftrightunsigned(F.col(SERIES_ID), 32).alias("blk"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("s.value").alias("sv"))
        .collect()
    }
    # stable, distinct ordinals across the two sync batches
    assert {b for (_, b) in got} == {0, 1, 2}
    assert {k[0]: v for k, v in got.items()} == {
        "b0": (30, 30.0), "b1": (30, 60.0), "b2": (30, 90.0)
    }


def test_sync_blocks_imports_xor_as_arrays(spark):
    """sync_blocks: the store's part carries the ``__ts``/``__values``
    arrays (no blob column survives the import), and every sample
    survives the XOR->arrays conversion bit-exactly, per chunk row."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.schema import CHUNK_BYTES
    from tsdb_parquet_spark.tsdb_block import sync_blocks

    data_dir = _block_dir("import_data")
    store = os.path.join(WORK, "import_store")
    shutil.rmtree(store, ignore_errors=True)
    series = _sample_series()
    d = os.path.join(data_dir, "b0")
    os.makedirs(d, exist_ok=True)
    write_block(d, [(labels, chs) for labels, chs, _ in series])

    r = sync_blocks(spark, data_dir, store, ["__name__", "job", "shard"])
    df = spark.read.parquet(r["part"])
    assert CHUNK_BYTES not in df.columns
    assert dict(df.dtypes)["__ts"] == "array<bigint>"
    assert dict(df.dtypes)["__values"] == "array<double>"

    for labels, _, (ts, vals) in series:
        rows = (
            df.filter(
                (F.col("job") == labels["job"])
                & (F.col("shard") == labels["shard"])
            )
            .orderBy("__mint")
            .select("__mint", "__maxt", "__ts", "__values")
            .collect()
        )
        assert rows
        for row in rows:
            # each chunk row: sorted, equal-length, bounds = its samples
            assert len(row["__ts"]) == len(row["__values"])
            assert row["__ts"] == sorted(row["__ts"])
            assert (row["__mint"], row["__maxt"]) == (
                row["__ts"][0], row["__ts"][-1]
            )
        back_ts = [t for row in rows for t in row["__ts"]]
        back_vals = [v for row in rows for v in row["__values"]]
        assert back_ts == list(ts)
        assert np.array_equal(
            np.asarray(back_vals, np.float64).view(np.int64),
            np.asarray(vals, np.float64).view(np.int64),
        )


def test_sync_crash_between_part_and_sidecar_no_duplicates(spark):
    """Crash-replay safety: if sync dies AFTER its part published but
    BEFORE the ULID sidecar committed, the rerun must overwrite the
    same batch-keyed part — not publish a second copy of the batch."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import read_roots
    from tsdb_parquet_spark.tsdb_block import sync_blocks

    data_dir = _block_dir("crash_data")
    store = os.path.join(WORK, "crash_store")
    shutil.rmtree(store, ignore_errors=True)
    series = _sample_series()
    d = os.path.join(data_dir, "b0")
    os.makedirs(d, exist_ok=True)
    write_block(d, [(labels, chs) for labels, chs, _ in series])

    labels = ["__name__", "job", "shard"]
    r1 = sync_blocks(spark, data_dir, store, labels)
    # simulate the crash window: the part is live/published, the sidecar
    # never committed
    os.remove(os.path.join(store, "_converted_blocks.json"))
    r2 = sync_blocks(spark, data_dir, store, labels)
    assert r2["part"] == r1["part"]  # same batch key -> same directory

    opts = WriterOptions(sort_columns=sort_columns(labels))
    writer = SortedParquetWriter(spark, store, opts)
    assert writer.part_dirs == [r1["part"]]  # one live part, no dupes
    total = (
        read_roots(spark, writer.part_dirs)
        .transform(with_sample_arrays).select(F.explode(sample_structs()).alias("s"))
        .count()
    )
    assert total == 4 * 40  # exactly one copy of every sample


# ---------------------------------------------------------------------------
# reverse converter: export_block
# ---------------------------------------------------------------------------


def _export_source_frame(spark, n_parts=4):
    """A chunk frame like the store's: 6 series x 3 day-chunks of XOR
    payloads, plus 2 series carrying the engine RAW codec (export must
    re-encode those)."""
    from tsdb_parquet_spark.chunks import encode_samples
    from tsdb_parquet_spark.schema import CHUNK_BYTES, MAX_T, MIN_T, SERIES_ID

    day = 24 * 3600 * 1000
    rows = []
    sid = 0
    for etype in ["click", "view", "buy"]:
        for shard in ["0", "1"]:
            raw = shard == "1" and etype == "buy"
            for d in range(3):
                ts = np.arange(5, dtype=np.int64) * 3600_000 + d * day
                vals = (
                    np.arange(5, dtype=np.float64) + sid * 100 + d
                ) * 1.5
                blob = (
                    encode_samples(ts, vals)
                    if raw
                    else encode_xor_chunk(ts, vals)
                )
                rows.append(
                    (sid, int(ts[0]), int(ts[-1]), "app_events", etype,
                     shard, bytearray(blob))
                )
            sid += 1
    # "__name__" is a REAL label column (dunder notwithstanding) — the
    # export must carry it into the index, not treat it as internal
    return spark.createDataFrame(
        rows,
        f"`{SERIES_ID}` long, `{MIN_T}` long, `{MAX_T}` long, "
        f"`__name__` string, event_type string, shard string, "
        f"`{CHUNK_BYTES}` binary",
    ).repartition(n_parts)


def test_export_block_roundtrip(spark):
    import json

    from tsdb_parquet_spark.tsdb_block import export_block

    d = _block_dir("export_rt")
    frame = _export_source_frame(spark)
    ulid = export_block(frame, d)
    # spec-valid ULID + meta.json publish marker
    assert len(ulid) == 26 and ulid[0] <= "7"
    meta = json.load(open(os.path.join(d, "meta.json")))
    assert meta["ulid"] == ulid
    assert meta["stats"] == {"numSeries": 6, "numChunks": 18}
    # segment files are a contiguous 1-based sequence, no temp leftovers
    segs = sorted(os.listdir(os.path.join(d, "chunks")))
    assert segs == [f"{i:06d}" for i in range(1, len(segs) + 1)]
    # read back through the FORWARD converter: bit-level format check
    # (index walk, CRC-verified records) + sample-level losslessness
    back = block_to_chunk_frame(spark, d)
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    import pyspark.sql.functions as F

    got = sorted(
        (r["__name__"], r["event_type"], r["shard"], r["s"]["ts"],
         r["s"]["value"])
        for r in back.transform(with_sample_arrays).select(
            "__name__", "event_type", "shard",
            F.explode(sample_structs()).alias("s"),
        ).collect()
    )
    from tsdb_parquet_spark.chunks import decode_samples
    from tsdb_parquet_spark.xorchunk import is_raw_chunk

    want = []
    for row in _export_source_frame(spark).collect():
        blob = bytes(row["__chunk_bytes"])
        ts, vals = (
            decode_samples(blob)
            if is_raw_chunk(blob)
            else decode_xor_chunk(blob)
        )
        for t, v in zip(ts.tolist(), vals.tolist()):
            want.append(
                (row["__name__"], row["event_type"], row["shard"], t, v)
            )
    assert got == sorted(want)
    # every exported record is spec XOR encoding (raw was re-encoded)
    seg = open(os.path.join(d, "chunks", segs[0]), "rb").read()
    magic, version = struct.unpack_from(">IB", seg, 0)
    assert magic == 0x85BD40DD and version == 1


def test_export_block_segment_roll(spark):
    from tsdb_parquet_spark.tsdb_block import export_block

    d = _block_dir("export_roll")
    frame = _export_source_frame(spark, n_parts=2)
    # tiny cap: every partition must roll into multiple segment files
    export_block(frame, d, max_segment_bytes=200)
    segs = sorted(os.listdir(os.path.join(d, "chunks")))
    assert len(segs) > 2
    assert segs == [f"{i:06d}" for i in range(1, len(segs) + 1)]
    # refs across rolled segments still resolve: forward converter reads
    back = block_to_chunk_frame(spark, d)
    assert back.count() == 18


def test_export_block_rejects_empty(spark):
    from tsdb_parquet_spark.schema import CHUNK_BYTES, MAX_T, MIN_T, SERIES_ID
    from tsdb_parquet_spark.tsdb_block import export_block

    d = _block_dir("export_empty")
    empty = spark.createDataFrame(
        [],
        f"`{SERIES_ID}` long, `{MIN_T}` long, `{MAX_T}` long, "
        f"event_type string, `{CHUNK_BYTES}` binary",
    )
    with pytest.raises(ValueError, match="no chunks"):
        export_block(empty, d)


def test_export_block_rejects_overlapping_series_windows(spark):
    from tsdb_parquet_spark.schema import CHUNK_BYTES, MAX_T, MIN_T, SERIES_ID
    from tsdb_parquet_spark.tsdb_block import export_block

    d = _block_dir("export_overlap")
    ts = np.array([0, 10], dtype=np.int64)
    blob = bytearray(encode_xor_chunk(ts, np.array([1.0, 2.0])))
    rows = [(0, 0, 10, "a", blob), (0, 5, 15, "a", blob)]
    frame = spark.createDataFrame(
        rows,
        f"`{SERIES_ID}` long, `{MIN_T}` long, `{MAX_T}` long, "
        f"event_type string, `{CHUNK_BYTES}` binary",
    )
    with pytest.raises(Exception, match="non-overlapping"):
        export_block(frame, d)


def test_cli_export_roundtrip(spark):
    """`cli convert --block` then `cli export` — the full both-ways CLI
    loop: block -> store -> block.  The re-exported block must decode
    to the original samples, and a matcher-sliced export must carry
    only the matching series."""
    import json
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays

    d = _block_dir("cli_export_src")
    series = _sample_series()
    write_block(d, [(labels, chs) for labels, chs, _ in series])
    store = os.path.join(WORK, "cli_export_store")
    out = os.path.join(WORK, "cli_export_block")
    sliced = os.path.join(WORK, "cli_export_block_sliced")
    for p in (store, out, sliced):
        shutil.rmtree(p, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cwd = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = lambda *argv: subprocess.run(  # noqa: E731
        [sys.executable, "-m", "tsdb_parquet_spark.cli", *argv],
        capture_output=True, text=True, timeout=300, env=env, cwd=cwd,
    )
    proc = run("convert", "--block", d, "--out", store)
    assert proc.returncode == 0, proc.stderr[-2000:]
    compact = os.path.join(store, "compact")

    proc = run("export", "--store", compact, "--out", out)
    assert proc.returncode == 0, proc.stderr[-2000:]
    ulid = proc.stdout.strip().splitlines()[-1]
    meta = json.load(open(os.path.join(out, "meta.json")))
    assert meta["ulid"] == ulid and meta["stats"]["numSeries"] == 4

    back = block_to_chunk_frame(spark, out)
    got = back.transform(with_sample_arrays).select(
        F.explode(sample_structs()).alias("s")
    ).agg(F.count("*"), F.round(F.sum("s.value"), 3)).collect()[0]
    src = block_to_chunk_frame(spark, d)
    want = src.transform(with_sample_arrays).select(
        F.explode(sample_structs()).alias("s")
    ).agg(F.count("*"), F.round(F.sum("s.value"), 3)).collect()[0]
    assert tuple(got) == tuple(want) == (160, want[1])

    # matcher-sliced export: only the matching series cross over
    labels0 = _sample_series()[0][0]
    key = next(k for k in labels0 if k != "__name__")
    proc = run("export", "--store", compact, "--out", sliced,
               "--matcher", f"{key}={labels0[key]}")
    assert proc.returncode == 0, proc.stderr[-2000:]
    meta = json.load(open(os.path.join(sliced, "meta.json")))
    assert 0 < meta["stats"]["numSeries"] < 4


def test_export_blocks_time_partitioned(spark):
    """export_blocks: a multi-day frame lands as one ULID-named block
    per day with disjoint meta windows, and the whole set reads back
    losslessly through the block-FARM converter."""
    import json

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import export_blocks

    day = 24 * 3600 * 1000
    parent = os.path.join(WORK, "export_blocks_parent")
    shutil.rmtree(parent, ignore_errors=True)
    frame = _export_source_frame(spark)  # 3 day-buckets per series
    blocks = export_blocks(frame, parent, block_span_ms=day)
    assert len(blocks) == 3
    metas = []
    for ulid, d in blocks:
        assert os.path.basename(d) == ulid
        meta = json.load(open(os.path.join(d, "meta.json")))
        assert meta["ulid"] == ulid
        metas.append((meta["minTime"], meta["maxTime"]))
    # time-ordered, disjoint windows, one per day bucket
    assert metas == sorted(metas)
    for (_, max0), (min1, _) in zip(metas, metas[1:]):
        assert max0 <= min1
    # no half-built temp dirs left behind
    assert not [p for p in os.listdir(parent) if p.startswith(".building")]
    farm = blocks_to_chunk_frame(
        spark, [d for _, d in blocks],
        ["__name__", "event_type", "shard"],
    )
    got = (
        farm.transform(with_sample_arrays).select(F.explode(sample_structs()).alias("s"))
        .agg(F.count("*"), F.round(F.sum("s.value"), 3))
        .collect()[0]
    )
    assert got[0] == 6 * 3 * 5  # series x days x samples/chunk


def test_export_blocks_then_sync_back_full_circle(spark):
    """store -> export_blocks farm -> sync_blocks into a SECOND store:
    the exported data dir satisfies the incremental importer's contract
    (discover_blocks finds the ULID dirs, meta.json windows order them)
    and the circle is lossless."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import (
        discover_blocks,
        export_blocks,
        sync_blocks,
    )

    day = 24 * 3600 * 1000
    parent = os.path.join(WORK, "full_circle_blocks")
    store2 = os.path.join(WORK, "full_circle_store")
    for p in (parent, store2):
        shutil.rmtree(p, ignore_errors=True)
    frame = _export_source_frame(spark)
    export_blocks(frame, parent, block_span_ms=day)
    assert len(discover_blocks(parent)) == 3
    r = sync_blocks(
        spark, parent, store2, ["__name__", "event_type", "shard"]
    )
    assert len(r["converted"]) == 3
    back = spark.read.parquet(r["part"])
    got = (
        back.transform(with_sample_arrays).select(F.explode(sample_structs()).alias("s"))
        .agg(F.count("*"), F.round(F.sum("s.value"), 3))
        .collect()[0]
    )
    want = (
        frame.transform(with_sample_arrays).select(F.explode(sample_structs()).alias("s"))
        .agg(F.count("*"), F.round(F.sum("s.value"), 3))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)
    # idempotence: a second sync over the same dir converts nothing
    r2 = sync_blocks(
        spark, parent, store2, ["__name__", "event_type", "shard"]
    )
    assert r2["converted"] == [] and len(r2["skipped"]) == 3


# ---------------------------------------------------------------------------
# tombstones (tsdb/docs/format/tombstones.md)
# ---------------------------------------------------------------------------


def test_tombstones_roundtrip_and_corruption():
    from tsdb_parquet_spark.tsdb_block import (
        read_tombstones,
        write_tombstones,
    )

    d = _block_dir("tomb")
    stones = {0: [(-5, 100)], 7: [(0, 10), (20, 30)]}
    write_tombstones(d, stones)
    assert read_tombstones(d) == stones
    # empty file: 9 bytes (magic + version + crc of nothing)
    write_tombstones(d)
    assert os.path.getsize(os.path.join(d, "tombstones")) == 9
    assert read_tombstones(d) == {}
    # missing file reads empty (Prometheus tolerates it)
    os.remove(os.path.join(d, "tombstones"))
    assert read_tombstones(d) == {}
    # corruption is loud
    write_tombstones(d, stones)
    buf = bytearray(open(os.path.join(d, "tombstones"), "rb").read())
    buf[6] ^= 0xFF
    open(os.path.join(d, "tombstones"), "wb").write(bytes(buf))
    with pytest.raises(ValueError, match="crc32c"):
        read_tombstones(d)


def test_written_blocks_carry_empty_tombstones(spark):
    from tsdb_parquet_spark.tsdb_block import export_block, read_tombstones

    d = _block_dir("tomb_wb")
    series = _sample_series()
    write_block(d, [(labels, chs) for labels, chs, _ in series])
    assert read_tombstones(d) == {}
    assert os.path.exists(os.path.join(d, "tombstones"))
    d2 = os.path.join(WORK, "tomb_export")
    shutil.rmtree(d2, ignore_errors=True)
    export_block(_export_source_frame(spark), d2)
    assert read_tombstones(d2) == {}


def test_convert_refuses_pending_tombstones(spark):
    from tsdb_parquet_spark.tsdb_block import write_tombstones

    d = _block_dir("tomb_refuse")
    series = _sample_series()
    write_block(d, [(labels, chs) for labels, chs, _ in series])
    write_tombstones(d, {0: [(0, 10_000_000_000_000)]})
    with pytest.raises(ValueError, match="resurrect"):
        block_to_chunk_frame(spark, d)
    # the farm shape refuses too (executor-side check)
    from py4j.protocol import Py4JJavaError  # noqa: F401

    farm = blocks_to_chunk_frame(spark, [d], ["__name__", "job", "shard"])
    with pytest.raises(Exception, match="resurrect"):
        farm.count()
    # escape hatch proceeds knowingly
    assert block_to_chunk_frame(spark, d, tombstones="ignore").count() == 4
    assert blocks_to_chunk_frame(
        spark, [d], ["__name__", "job", "shard"], tombstones="ignore"
    ).count() == 4


def test_compact_blocks_merges_dedups_and_applies_tombstones(spark):
    """Distributed compaction: two OVERLAPPING blocks (duplicate
    timestamps with conflicting values) plus a pending tombstone merge
    into fresh day blocks — first-write-wins on collisions, deleted
    intervals dropped, output tombstone-free and readable by the
    forward converter."""
    import json

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import (
        compact_blocks,
        read_index,
        read_tombstones,
        write_tombstones,
    )
    from pyspark.sql import functions as F

    hour = 3_600_000
    parent_in = os.path.join(WORK, "compact_in")
    parent_out = os.path.join(WORK, "compact_out")
    shutil.rmtree(parent_in, ignore_errors=True)
    shutil.rmtree(parent_out, ignore_errors=True)
    os.makedirs(parent_in)
    labels = {"__name__": "m", "job": "a"}
    # block 0 (FIRST written): ts 0..9h, values 100+i
    ts0 = np.arange(10, dtype=np.int64) * hour
    v0 = 100.0 + np.arange(10)
    b0 = os.path.join(parent_in, "b0")
    write_block(b0, [(labels, [(int(ts0[0]), int(ts0[-1]),
                                encode_xor_chunk(ts0, v0))])])
    # block 1 (second): ts 5h..14h, values 200+i — 5 collisions (5h..9h)
    ts1 = (np.arange(10, dtype=np.int64) + 5) * hour
    v1 = 200.0 + np.arange(10)
    b1 = os.path.join(parent_in, "b1")
    write_block(b1, [(labels, [(int(ts1[0]), int(ts1[-1]),
                                encode_xor_chunk(ts1, v1))])])
    # pending tombstones on block 0: [2h, 3h] is A-only (samples vanish)
    # and [6h, 7h] overlaps block 1 (B's values must SURVIVE — the stone
    # is scoped to block 0, not to the series globally)
    (ref, _lbls, _metas), = read_index(b0, with_refs=True)
    write_tombstones(
        b0, {ref: [(2 * hour, 3 * hour), (6 * hour, 7 * hour)]}
    )

    blocks = compact_blocks(
        spark, [b0, b1], parent_out, ["__name__", "job"],
        block_span_ms=24 * hour,
    )
    assert len(blocks) == 1  # everything inside one day
    ulid, out_dir = blocks[0]
    assert read_tombstones(out_dir) == {}
    meta = json.load(open(os.path.join(out_dir, "meta.json")))
    assert meta["stats"]["numSeries"] == 1
    back = block_to_chunk_frame(spark, out_dir)
    got = {
        r["s"]["ts"]: r["s"]["value"]
        for r in back.transform(with_sample_arrays).select(
            F.explode(sample_structs()).alias("s")
        ).collect()
    }
    want = {}
    for t, v in zip(ts1.tolist(), v1.tolist()):
        want[t] = v
    for t, v in zip(ts0.tolist(), v0.tolist()):
        want[t] = v  # block 0 wins collisions (first write)
    del want[2 * hour], want[3 * hour]  # A-only, tombstoned -> gone
    # [6h, 7h]: A's samples deleted, B's survive the per-block stone
    want[6 * hour] = v1[1]
    want[7 * hour] = v1[2]
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 2**32),
        st.lists(
            st.tuples(
                st.integers(-(2**40), 2**40), st.integers(-(2**40), 2**40)
            ),
            min_size=1,
            max_size=4,
        ),
        max_size=6,
    )
)
def test_tombstones_roundtrip_property(stones):
    from tsdb_parquet_spark.tsdb_block import (
        read_tombstones,
        write_tombstones,
    )

    d = os.path.join(WORK, "tomb_prop")
    os.makedirs(d, exist_ok=True)
    write_tombstones(d, stones)
    assert read_tombstones(d) == stones


def test_block_meta_maxtime_exclusive_boundary(tmp_path):
    """ADVICE r09 (medium): meta.json maxTime is EXCLUSIVE (Prometheus
    BlockMeta.MaxTime) — a query window starting exactly at a block's
    last-sample ts must keep the block in prune_blocks_by_time, and
    Prometheus itself would skip a backfilled block at t == maxTime if
    we wrote the inclusive max."""
    import json

    from tsdb_parquet_spark.tsdb_block import prune_blocks_by_time

    d = os.path.join(str(tmp_path), "blk")
    blob = encode_xor_chunk(
        np.array([1000, 2000], np.int64), np.array([1.0, 2.0])
    )
    write_block(d, [({"__name__": "m"}, [(1000, 2000, blob)])])
    meta = json.load(open(os.path.join(d, "meta.json")))
    assert meta["minTime"] == 1000
    assert meta["maxTime"] == 2001  # max sample ts + 1, exclusive
    # boundary query [2000, ...] must see the block's last sample
    assert prune_blocks_by_time([d], mint=2000, maxt=9000) == [d]
    # window past the block prunes it
    assert prune_blocks_by_time([d], mint=2001, maxt=9000) == []


def test_compact_blocks_resolves_stone_refs_executor_side(
    spark, tmp_path, monkeypatch
):
    """Verdict r09 #2: stone-ref resolution must not parse indexes on
    the driver.  With THREE stone-bearing blocks, monkeypatching
    read_index to raise in the DRIVER process must not disturb the
    compaction — local-mode executors are separate Python workers that
    import the real module, so success proves every index parse ran in
    a task.  (blocks_to_chunk_frame's payload ingest already parses
    executor-side, so the only driver-side caller left was the
    tombstone resolver.)"""
    import json

    from pyspark.sql import functions as F

    from tsdb_parquet_spark import tsdb_block as tb
    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays

    hour = 3_600_000
    parent_in = str(tmp_path / "in")
    parent_out = str(tmp_path / "out")
    os.makedirs(parent_in)
    dirs = []
    for b in range(3):
        labels = {"__name__": "m", "job": f"j{b}"}
        ts = np.arange(4, dtype=np.int64) * hour + b * 100
        vs = float(b * 10) + np.arange(4)
        d = os.path.join(parent_in, f"b{b}")
        tb.write_block(
            d, [(labels, [(int(ts[0]), int(ts[-1]),
                           encode_xor_chunk(ts, vs))])]
        )
        # every block carries a pending stone on its only series
        (ref, _l, _m), = tb.read_index(d, with_refs=True)
        tb.write_tombstones(d, {ref: [(int(ts[0]), int(ts[0]))]})
        dirs.append(d)

    # the patched symbol travels to executors through closure pickling,
    # so the guard must distinguish where it runs: TaskContext is None
    # exactly on the driver
    real_read_index = tb.read_index

    def driver_guard(*a, **k):
        from pyspark import TaskContext

        if TaskContext.get() is None:
            raise AssertionError(
                "read_index called on the DRIVER during compact_blocks"
            )
        return real_read_index(*a, **k)

    monkeypatch.setattr(tb, "read_index", driver_guard)
    blocks = tb.compact_blocks(
        spark, dirs, parent_out, ["__name__", "job"],
        block_span_ms=24 * hour,
    )
    monkeypatch.undo()
    assert len(blocks) == 1
    _, out_dir = blocks[0]
    got = sorted(
        (r["job"], r["s"]["ts"], r["s"]["value"])
        for r in tb.block_to_chunk_frame(spark, out_dir)
        .transform(with_sample_arrays)
        .select(
            "job",
            F.explode(sample_structs()).alias("s"),
        ).collect()
    )
    # each block lost exactly its first sample to its own stone
    want = sorted(
        (f"j{b}", b * 100 + i * hour, float(b * 10 + i))
        for b in range(3)
        for i in range(1, 4)
    )
    assert got == want
    meta = json.load(open(os.path.join(out_dir, "meta.json")))
    assert meta["stats"]["numSeries"] == 3


def test_maintain_block_farm_downsample_then_retention(spark, tmp_path):
    """Verdict r09 #3: the operational loop — one maintenance tick
    downsamples aged raw blocks into recording-rule rollup blocks and
    THEN applies retention, so a raw block never ages out before its
    rollup exists; re-running the tick is a no-op; crash scraps
    (.trash-*, .building-*) are invisible and resumed."""
    import json

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
    from tsdb_parquet_spark.tsdb_block import (
        discover_blocks,
        maintain_block_farm,
    )

    day = 24 * 3_600_000
    hour = 3_600_000
    data = str(tmp_path / "data")
    rollups = str(tmp_path / "rollups")
    os.makedirs(data)
    labels = {"__name__": "m", "job": "a"}
    for d0 in range(3):  # one block per day 0/1/2, 4 samples each
        ts = np.array([d0 * day + i * 6 * hour for i in range(4)], np.int64)
        vs = np.array([float(d0 * 10 + i) for i in range(4)])
        write_block(
            os.path.join(data, f"day{d0}"),
            [(labels, [(int(ts[0]), int(ts[-1]), encode_xor_chunk(ts, vs))])],
        )
    # crash scraps from hypothetical earlier runs
    os.makedirs(os.path.join(data, ".trash-dead"))
    building = os.path.join(data, ".building-x")
    os.makedirs(building)
    with open(os.path.join(building, "meta.json"), "w") as fh:
        fh.write("{}")
    assert len(discover_blocks(data)) == 3  # scraps invisible

    now = 3 * day
    rep = maintain_block_farm(
        spark,
        data,
        ["__name__", "job"],
        now_ms=now,
        retention_ms=2 * day,           # horizon day1: day0 ages out
        downsample_step_ms=12 * hour,   # 2 buckets per day-block
        downsample_dir=rollups,
        downsample_after_ms=day,        # horizon day2: day0+day1 roll up
    )
    assert len(rep["downsampled"]) == 2
    assert rep["retention"]["deleted"] and rep["retention"]["kept"] == 2
    assert rep["retention"]["resumed_trash"] == 1
    # raw day0 is gone, but its rollup EXISTS (downsample ran first)
    raws = discover_blocks(data)
    assert len(raws) == 2
    rolled = discover_blocks(rollups)
    assert rolled
    got = sorted(
        (r["__name__"], r["s"]["ts"], r["s"]["value"])
        for r in blocks_to_chunk_frame(spark, rolled, ["__name__", "job"])
        .transform(with_sample_arrays).select("__name__", F.explode(
            sample_structs()).alias("s"))
        .filter(F.col("__name__").isin("m:sum", "m:count"))
        .collect()
    )
    # right-closed 12h buckets (ceil(ts/step)*step): day-0 samples at
    # 0/6/12/18h -> buckets 0, 12h, 12h, 24h; day-1 samples at
    # day+0/6/12/18h -> buckets 24h, 36h, 36h, 48h.  The day boundary
    # bucket (24h) MERGES across the two source blocks because the
    # whole pending set rolls up in one farm job — exactly why the
    # sidecar records the batch, not single blocks, as its unit.
    want = sorted([
        ("m:count", 0, 1.0),
        ("m:count", 12 * hour, 2.0),
        ("m:count", day, 2.0),
        ("m:count", day + 12 * hour, 2.0),
        ("m:count", 2 * day, 1.0),
        ("m:sum", 0, 0.0),
        ("m:sum", 12 * hour, 1.0 + 2.0),
        ("m:sum", day, 3.0 + 10.0),
        ("m:sum", day + 12 * hour, 11.0 + 12.0),
        ("m:sum", 2 * day, 13.0),
    ])
    assert got == want
    # second tick: nothing left to do, and the sidecar held
    rep2 = maintain_block_farm(
        spark,
        data,
        ["__name__", "job"],
        now_ms=now,
        retention_ms=2 * day,
        downsample_step_ms=12 * hour,
        downsample_dir=rollups,
        downsample_after_ms=day,
    )
    assert rep2["downsampled"] == {}
    assert rep2["retention"]["deleted"] == []
    side = json.load(open(os.path.join(rollups, "_downsampled.json")))
    assert len(side) == 2


def test_histogram_chunk_encoding_rejected_loudly(spark, tmp_path):
    """A block holding native-histogram CHUNKS (encodings 2/3) must
    fail with the documented exclusion, not mis-decode the sparse
    bitstream as Gorilla XOR."""
    from tsdb_parquet_spark.tsdb_block import (
        write_chunks_segments,
        write_index,
        write_tombstones,
    )

    d = str(tmp_path / "histblock")
    os.makedirs(d)
    refs = write_chunks_segments(d, [b"\x00\x01\x02\x03"], encoding=3)
    write_index(d, [({"__name__": "m"}, [(0, 10, refs[0])])])
    write_tombstones(d)
    with open(os.path.join(d, "meta.json"), "w") as fh:
        fh.write('{"ulid": "X", "minTime": 0, "maxTime": 11}')
    with pytest.raises(Exception, match="native-histogram chunk"):
        block_to_chunk_frame(spark, d).collect()
    with pytest.raises(Exception, match="native-histogram chunk"):
        blocks_to_chunk_frame(spark, [d], ["__name__"]).collect()


def test_read_index_select_postings_pushdown():
    """Equality selection resolved through the per-(label,value)
    postings lists: only matching series parse; unions within a label,
    intersections across labels; an unknown value selects nothing."""
    d = _block_dir("sel")
    ts = np.array([1_700_000_000_000, 1_700_000_060_000], np.int64)
    series = []
    for name in ("a", "b"):
        for shard in ("0", "1", "2"):
            series.append((
                {"__name__": name, "shard": shard},
                [(int(ts[0]), int(ts[-1]),
                  encode_xor_chunk(ts, np.array([1.0, 2.0])))],
            ))
    write_block(d, series)

    got = read_index(d, select={"__name__": ["a"]})
    assert sorted(lbl["shard"] for lbl, _ in got) == ["0", "1", "2"]
    assert {lbl["__name__"] for lbl, _ in got} == {"a"}
    # OR within a label
    got = read_index(d, select={"__name__": ["a", "b"]})
    assert len(got) == 6
    # AND across labels
    got = read_index(d, select={"__name__": ["b"], "shard": ["2"]})
    assert len(got) == 1 and got[0][0] == {"__name__": "b", "shard": "2"}
    # unknown value -> empty
    assert read_index(d, select={"__name__": ["nope"]}) == []
    # selection result equals filtering the full walk
    full = [e for e in read_index(d) if e[0]["__name__"] == "a"]
    assert read_index(d, select={"__name__": ["a"]}) == full


def test_read_index_select_legacy_fallback():
    """An index whose postings offset table holds ONLY the all-series
    entry (the pre-round-12 writer) must still honor select via the
    full-walk filter — same result, no pruning."""
    import struct as _struct

    from tsdb_parquet_spark.tsdb_block import _read_uvarint, _section

    d = _block_dir("sel_legacy")
    ts = np.array([1_700_000_000_000, 1_700_000_060_000], np.int64)
    write_block(d, [
        ({"__name__": n, "shard": "0"},
         [(int(ts[0]), int(ts[-1]),
           encode_xor_chunk(ts, np.array([1.0, 2.0])))])
        for n in ("a", "b")
    ])
    # rewrite the index with a stripped offset table: keep only ("","")
    path = os.path.join(d, "index")
    buf = bytearray(open(path, "rb").read())
    toc_off = len(buf) - 52
    toc = list(_struct.unpack_from(">QQQQQQ", buf, toc_off))
    po = bytes(buf[toc[5]:toc_off])
    content = po[4:4 + _struct.unpack_from(">I", po, 0)[0]]
    (n_entries,) = _struct.unpack_from(">I", content, 0)
    pos = 4
    keep = None
    for _ in range(n_entries):
        start = pos
        n_parts, pos = _read_uvarint(content, pos)
        parts = []
        for _ in range(n_parts):
            ln, pos = _read_uvarint(content, pos)
            parts.append(content[pos:pos + ln].decode())
            pos += ln
        _, pos = _read_uvarint(content, pos)
        if parts == ["", ""]:
            keep = content[start:pos]
    assert keep is not None
    stripped = _struct.pack(">I", 1) + keep
    new = buf[:toc[5]] + _section(stripped)
    new_toc_off = len(new)
    toc_bytes = _struct.pack(">QQQQQQ", *toc)
    new += toc_bytes + _struct.pack(">I", crc32c(toc_bytes))
    with open(path, "wb") as fh:
        fh.write(new)

    got = read_index(d, select={"__name__": ["a"]})
    assert len(got) == 1 and got[0][0]["__name__"] == "a"


def test_blocks_to_chunk_frame_select_pushdown(spark):
    """Farm decode with select: only the selected series' chunk records
    surface, result equals post-filtering the full decode, and the
    selected ids stay stable (series REFERENCE in the low bits)."""
    from tsdb_parquet_spark.schema import SERIES_ID

    dirs = []
    ts = np.array([1_700_000_000_000, 1_700_000_060_000], np.int64)
    for b in range(2):
        d = _block_dir(f"selfarm{b}")
        write_block(d, [
            ({"__name__": n, "shard": str(b)},
             [(int(ts[0]), int(ts[-1]),
               encode_xor_chunk(ts, np.array([float(b), 2.0])))])
            for n in ("a", "b", "c")
        ])
        dirs.append(d)

    full = blocks_to_chunk_frame(spark, dirs, ["__name__", "shard"])
    sel = blocks_to_chunk_frame(
        spark, dirs, ["__name__", "shard"], select={"__name__": ["b"]}
    )
    got = sel.select("__name__", "shard").collect()
    assert sorted((r["__name__"], r["shard"]) for r in got) == [
        ("b", "0"), ("b", "1"),
    ]
    want = full.filter("__name__ = 'b'").select("shard").collect()
    assert sorted(r["shard"] for r in want) == ["0", "1"]
    # selecting twice yields identical ids (ref-based, not positional)
    ids1 = sorted(r[SERIES_ID] for r in sel.select(SERIES_ID).collect())
    sel2 = blocks_to_chunk_frame(
        spark, dirs, ["__name__", "shard"],
        select={"__name__": ["b", "zzz_missing"]},
    )
    ids2 = sorted(r[SERIES_ID] for r in sel2.select(SERIES_ID).collect())
    assert ids1 == ids2


def test_blocks_to_chunk_frame_window_prunes_chunks(spark):
    """Chunk-level time pruning inside a wide block: records whose
    index meta lies outside the window never fetch; overlap semantics
    are inclusive on both edges."""
    d = _block_dir("winprune")
    day = 86_400_000
    chunks = []
    for k in range(4):  # four day-chunks of one series
        ts = np.array([k * day, k * day + 3_600_000], np.int64)
        chunks.append((int(ts[0]), int(ts[-1]),
                       encode_xor_chunk(ts, np.array([float(k), 1.0]))))
    write_block(d, [({"__name__": "m"}, chunks)])

    full = blocks_to_chunk_frame(spark, [d], ["__name__"])
    assert full.count() == 4
    got = blocks_to_chunk_frame(
        spark, [d], ["__name__"], window=(day, 2 * day)
    ).select("__mint").collect()
    # day-1 chunk [day, day+1h] and day-2 chunk [2d, 2d+1h] overlap;
    # day-0 and day-3 don't
    assert sorted(r["__mint"] for r in got) == [day, 2 * day]
    # inclusive edges: a window ending exactly at a chunk's mint keeps it
    got2 = blocks_to_chunk_frame(
        spark, [d], ["__name__"], window=(0, day)
    ).select("__mint").collect()
    assert sorted(r["__mint"] for r in got2) == [0, day]


def test_block_to_chunk_frame_select_and_window(spark):
    """The single-block (driver-side index walk) arm honors the same
    select/window semantics as the farm arm."""
    d = _block_dir("single_sel")
    day = 86_400_000
    series = []
    for n in ("a", "b"):
        chunks = []
        for k in range(3):
            ts = np.array([k * day, k * day + 1000], np.int64)
            chunks.append((int(ts[0]), int(ts[-1]),
                           encode_xor_chunk(ts, np.array([1.0, 2.0]))))
        series.append(({"__name__": n}, chunks))
    write_block(d, series)

    sel = block_to_chunk_frame(
        spark, d, select={"__name__": ["a"]}, window=(day, 2 * day)
    ).select("__name__", "__mint").collect()
    assert sorted((r["__name__"], r["__mint"]) for r in sel) == [
        ("a", day), ("a", 2 * day),
    ]


def test_verify_block_green_and_detects_corruption(spark, tmp_path):
    """verify_block passes an exported block, then catches a flipped
    chunk byte, a truncated index, and a meta/dir ULID mismatch."""
    import json
    import os
    import shutil

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.tsdb_block import export_block, verify_block

    labels = ["__name__", "job"]
    rows = [
        ("m", "a", t * 1000, float(t)) for t in range(1, 200)
    ] + [("m", "b", t * 1000, float(-t)) for t in range(1, 100)]
    df = spark.createDataFrame(
        rows, "`__name__` STRING, job STRING, ts LONG, value DOUBLE"
    )
    chunks = samples_to_chunks(
        df, labels, chunk_span_ms=50_000, encoding="xor"
    )
    out = str(tmp_path / "blocks")
    export_block(chunks, out)
    report = verify_block(out)
    assert report["ok"] and report["series"] == 2
    assert report["chunks"] >= 6 and report["samples"] == 298

    # chunk corruption: flip one payload byte -> CRC mismatch
    broken = str(tmp_path / "broken")
    shutil.copytree(out, broken)
    # keep meta ulid == dir name
    meta = json.load(open(os.path.join(broken, "meta.json")))
    meta["ulid"] = os.path.basename(broken)
    json.dump(meta, open(os.path.join(broken, "meta.json"), "w"))
    seg = os.path.join(broken, "chunks", "000001")
    blob = bytearray(open(seg, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(seg, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="crc32c|zero samples|outside"):
        verify_block(broken)

    # a ULID-shaped dir name must match meta.json's ulid
    renamed = str(tmp_path / ("0" * 26))
    shutil.copytree(out, renamed)
    with pytest.raises(ValueError, match="ulid"):
        verify_block(renamed)
