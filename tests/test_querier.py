"""ChunkQuerier integration tests mirroring `prometheus/querier_test.go:
19-129`: write -> compact -> open -> Select(matchers, grouping) -> expected
label sets; plus chunk encode/decode round-trips."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark.chunks import (
    chunks_to_samples,
    decode_samples,
    encode_samples,
    samples_to_chunks,
)
from tsdb_parquet_spark.operators.selection import Matcher
from tsdb_parquet_spark.querier import ChunkQuerier
from tsdb_parquet_spark.schema import MAX_T, MIN_T, SERIES_ID, sort_columns
from tsdb_parquet_spark.sources.writer import SortedParquetWriter, WriterOptions

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".work", "querier_tests")

LABELS = ["__name__", "instance", "job"]
MINUTE = 60_000


def _fixture_samples(spark):
    """The reference fixture (`prometheus/querier_test.go:152-173`): series
    across jobs/instances, contiguous one-minute chunks, 1.0 values every
    30s."""
    rows = []
    series = [
        ("http_requests_total", "api-server", "0"),
        ("http_requests_total", "api-server", "1"),
        ("http_requests_total", "kubelet", "0"),
        ("http_errors_total", "api-server", "0"),
    ]
    for name, job, inst in series:
        for ts in range(0, 3 * MINUTE, 30_000):
            rows.append((name, inst, job, ts, 1.0))
    return spark.createDataFrame(
        rows, "`__name__` STRING, instance STRING, job STRING, ts LONG, value DOUBLE"
    )


@pytest.fixture(scope="module")
def store(spark):
    import shutil

    samples = _fixture_samples(spark)
    chunks = samples_to_chunks(samples, LABELS, chunk_span_ms=MINUTE)
    opts = WriterOptions(sort_columns=sort_columns(LABELS),
                         bloom_columns=["job", "instance"], max_files=2)
    root = os.path.join(WORK, "store")
    shutil.rmtree(root, ignore_errors=True)
    writer = SortedParquetWriter(spark, root, opts)
    writer.write(chunks)
    return writer.compact()


def test_encode_decode_roundtrip():
    ts = np.array([0, 30_000, 60_000], dtype=np.int64)
    vals = np.array([1.5, -2.25, 3.0])
    t2, v2 = decode_samples(encode_samples(ts, vals))
    assert list(t2) == list(ts)
    assert list(v2) == list(vals)


def test_select_by_matcher(spark, store):
    q = ChunkQuerier.from_parquet(spark, store)
    out = q.select(
        matchers=[Matcher("__name__", "=", "http_requests_total"),
                  Matcher("job", "=", "api-server")],
        grouping=["instance"],
    ).collect()
    assert sorted(r["instance"] for r in out) == ["0", "1"]
    # a matcher on a label the store never materialized: absent == "",
    # so {nolabel="x"} keeps no series and {nolabel=""} is a no-op
    name = Matcher("__name__", "=", "http_requests_total")
    for extra, want in (
        (Matcher("nolabel", "=", "x"), 0),
        (Matcher("nolabel", "=", ""), 3),
    ):
        assert q.select(matchers=[name, extra]).count() == want, extra
        samples = q.select_samples(matchers=[name, extra])
        assert samples.count() == want * 6, extra


def test_select_time_containment(spark, store):
    """Chunks must be FULLY contained (`prometheus/querier.go:67-70`),
    bounds inclusive.  Each series has chunks [0,30s], [60s,90s],
    [120s,150s]."""
    q = ChunkQuerier.from_parquet(spark, store)
    # maxt=90s exactly reaches the second chunk's maxt -> included (<=)
    assert q.select_chunks(mint=0, maxt=90_000).count() == 8
    # maxt just below excludes it -> only the first chunk of each series
    chunks = q.select_chunks(mint=0, maxt=89_999).collect()
    assert len(chunks) == 4
    assert all(c[MAX_T] <= 30_000 for c in chunks)


def test_series_ids_dense_and_deterministic(spark, store):
    q = ChunkQuerier.from_parquet(spark, store)
    ids = sorted(
        r[SERIES_ID]
        for r in q.select(grouping=[]).select(SERIES_ID).collect()
    )
    assert ids == [0, 1, 2, 3]  # dense, 0-based (`cmd/convert/main.go:84-91`)


def test_label_api(spark, store):
    q = ChunkQuerier.from_parquet(spark, store)
    assert q.label_names() == ["__name__", "instance", "job"]
    vals = [r["value"] for r in q.label_values("job").collect()]
    assert vals == ["api-server", "kubelet"]
    for extra, want in (
        (Matcher("nolabel", "=", "x"), []),
        (Matcher("nolabel", "=", ""), ["api-server", "kubelet"]),
    ):
        got = [r["value"] for r in q.label_values("job", [extra]).collect()]
        assert got == want, extra
        assert q.label_names([extra]) == (
            ["__name__", "instance", "job"] if want else []
        ), extra


def test_regex_matchers_fully_anchored(spark, store):
    """PromQL regexes are fully anchored: `job=~"api"` must NOT match
    "api-server" (and `!~` is its complement).  The reference maps all
    matcher types to equality (`prometheus/querier.go:71-73`) — we do it
    right."""
    q = ChunkQuerier.from_parquet(spark, store)
    none = q.select(matchers=[Matcher("job", "=~", "api")], grouping=["job"])
    assert none.count() == 0
    some = q.select(matchers=[Matcher("job", "=~", "api.*")], grouping=["job"])
    assert {r["job"] for r in some.collect()} == {"api-server"}
    inv = q.select(matchers=[Matcher("job", "!~", "api.*")], grouping=["job"])
    assert {r["job"] for r in inv.collect()} == {"kubelet"}


def test_samples_roundtrip_through_store(spark, store):
    q = ChunkQuerier.from_parquet(spark, store)
    back = q.select_samples(matchers=[Matcher("__name__", "=",
                                              "http_requests_total")])
    got = back.agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()[0]
    assert got["n"] == 3 * 6  # 3 series x 6 samples
    assert got["s"] == 18.0


def test_chunks_to_samples_preserves_order_and_values(spark):
    samples = _fixture_samples(spark)
    chunks = samples_to_chunks(samples, LABELS, chunk_span_ms=MINUTE)
    back = chunks_to_samples(chunks, LABELS)
    orig = {tuple(r) for r in samples.collect()}
    got = {tuple(r) for r in back.select(*LABELS[:1], "instance", "job",
                                         "ts", "value").collect()}
    assert orig == got


def test_multi_store_schema_merge(spark):
    """Two stores with different label sets (the reference's data-inferred
    wide schemas, `schema/chunk.go:87-95`) must merge, with absent labels
    read back as empty strings (`schema/chunk.go:109-112`)."""
    import shutil

    from tsdb_parquet_spark.sources.writer import write_sorted

    s1 = spark.createDataFrame(
        [("http_requests_total", "api", 0, 60_000)],
        "`__name__` STRING, job STRING, ts LONG, maxts LONG",
    ).select(
        F.col("__name__"), F.col("job"), F.col("ts").alias("__mint"),
        F.col("maxts").alias("__maxt"), F.lit(0).cast("long").alias(SERIES_ID),
        F.lit(bytearray(b"\x00\x00\x00\x00")).alias("__chunk_bytes"),
    )
    s2 = spark.createDataFrame(
        [("http_requests_total", "eu-1", 0, 60_000)],
        "`__name__` STRING, region STRING, ts LONG, maxts LONG",
    ).select(
        F.col("__name__"), F.col("region"), F.col("ts").alias("__mint"),
        F.col("maxts").alias("__maxt"), F.lit(0).cast("long").alias(SERIES_ID),
        F.lit(bytearray(b"\x00\x00\x00\x00")).alias("__chunk_bytes"),
    )
    p1, p2 = os.path.join(WORK, "ms1"), os.path.join(WORK, "ms2")
    for p, df, cols in ((p1, s1, ["__name__", "job"]),
                        (p2, s2, ["__name__", "region"])):
        shutil.rmtree(p, ignore_errors=True)
        write_sorted(df, p, WriterOptions(sort_columns=sort_columns(cols),
                                          max_files=1))
    q = ChunkQuerier.from_stores(spark, [p1, p2])
    assert set(q.label_columns) == {"__name__", "job", "region"}
    rows = {(r["job"], r["region"]) for r in q.chunks.collect()}
    assert rows == {("api", ""), ("", "eu-1")}
    # label_names must only report labels with non-empty values
    assert q.label_names() == ["__name__", "job", "region"]


def test_chunk_bounds_match_samples(spark):
    samples = _fixture_samples(spark)
    chunks = samples_to_chunks(samples, LABELS, chunk_span_ms=MINUTE).collect()
    for c in chunks:
        assert c[MIN_T] <= c[MAX_T]
        assert c[MAX_T] - c[MIN_T] < MINUTE


def test_tsdb_stats_counts(spark, tmp_path):
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.querier import ChunkQuerier

    rows = [
        ("m", "a", "0", 1_000, 1.0),
        ("m", "a", "1", 2_000, 2.0),
        ("m", "b", "0", 3_000, 3.0),
    ]
    samples = spark.createDataFrame(
        rows, "__name__ STRING, job STRING, shard STRING, ts LONG, value DOUBLE"
    )
    chunks = samples_to_chunks(samples, ["__name__", "job", "shard"])
    q = ChunkQuerier(chunks)
    stats = {r["stat"]: r["n"] for r in q.tsdb_stats().collect()}
    assert stats == {
        "label_values:__name__": 1,
        "label_values:job": 2,
        "label_values:shard": 2,
        "series": 3,
    }


def test_querier_over_xor_store_matches_raw(spark):
    """File-level interop end-to-end: the SAME fixture written as the
    engine's array store, as a foreign store of Prometheus/Gorilla XOR
    bytes (what the reference's cmd/convert stores verbatim,
    `cmd/convert/main.go:107`), and as that XOR frame imported through
    the writer must yield identical samples through ChunkQuerier — the
    querier converts a blob store at the scan (blobs_to_arrays), and the
    writer converts blobs to the arrays on import."""
    import shutil

    from tsdb_parquet_spark.xorchunk import is_raw_chunk

    samples = _fixture_samples(spark)
    stores = {}
    for enc in ("arrays", "xor"):
        chunks = samples_to_chunks(
            samples, LABELS, chunk_span_ms=MINUTE, encoding=enc
        )
        opts = WriterOptions(
            sort_columns=sort_columns(LABELS), max_files=2
        )
        root = os.path.join(WORK, f"interop_{enc}")
        shutil.rmtree(root, ignore_errors=True)
        writer = SortedParquetWriter(spark, root, opts)
        writer.write(chunks)
        stores[enc] = writer.compact()
        if enc == "xor":
            stores["foreign"] = os.path.join(WORK, "interop_foreign")
            chunks.write.mode("overwrite").parquet(stores["foreign"])
    # the foreign store holds genuine XOR blobs on disk...
    blobs = [
        bytes(r[0]) for r in
        spark.read.parquet(stores["foreign"]).select("__chunk_bytes").collect()
    ]
    assert blobs and not any(is_raw_chunk(b) for b in blobs), (
        "xor store unexpectedly carries raw-layout blobs"
    )
    # ...the imported one holds the arrays, no blob column...
    imported = spark.read.parquet(stores["xor"]).columns
    assert "__chunk_bytes" not in imported
    assert {"__ts", "__values"} <= set(imported)
    # ...and the decoded sample sets are identical
    out = {}
    for enc, store_dir in stores.items():
        q = ChunkQuerier.from_parquet(spark, store_dir)
        out[enc] = sorted(
            (r["__name__"], r["instance"], r["job"], r["ts"], r["value"])
            for r in q.select_samples(
                matchers=[Matcher("job", "!=", "kubelet")], labels=LABELS
            ).collect()
        )
    assert out["arrays"] == out["xor"] == out["foreign"]
    assert len(out["arrays"]) == 3 * 6  # 3 surviving series x 6 samples
