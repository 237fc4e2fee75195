"""Write-path tests mirroring the reference's `db/writer_test.go:21-63`:
sort order inside files, range-disjointness across files, losslessness
through the part->compact cycle."""

import os

import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark.sources.writer import (
    SortedParquetWriter,
    WriterOptions,
    write_sorted,
)

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".work", "writer_tests")


@pytest.fixture()
def opts():
    return WriterOptions(
        sort_columns=["l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber"],
        bloom_columns=["l_returnflag"],
        max_files=4,
    )


def test_roundtrip_lossless(spark, sf_smoke, opts, tmp_path_factory):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    out = os.path.join(WORK, "lossless")
    write_sorted(li, out, opts)
    back = spark.read.parquet(out)
    orig = li.agg(F.count("*"), F.sum("l_quantity"), F.min("l_orderkey"),
                  F.max("l_orderkey")).collect()
    got = back.agg(F.count("*"), F.sum("l_quantity"), F.min("l_orderkey"),
                   F.max("l_orderkey")).collect()
    assert orig == got


def test_files_sorted_and_disjoint(spark, sf_smoke, opts):
    """Each part file must be internally sorted on the sort prefix and the
    files' key ranges must tile (repartitionByRange guarantee) — this is
    what makes min/max pruning work across a 100 TB table."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    out = os.path.join(WORK, "sorted")
    write_sorted(li, out, opts)

    import pyarrow.parquet as pq

    ranges = []
    for fname in sorted(os.listdir(out)):
        if not fname.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(out, fname),
                              columns=["l_returnflag", "l_shipdate"])
        flags = table.column("l_returnflag").to_pylist()
        assert flags == sorted(flags), f"{fname} not sorted on l_returnflag"
        if flags:
            ranges.append((min(flags), max(flags)))
    # ranges from different files may touch at the boundary value but the
    # sort keys must be globally non-decreasing across range partitions
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2 or (hi1 == lo2), (ranges,)


def test_compact_merges_parts(spark, sf_smoke, opts):
    import shutil

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    root = os.path.join(WORK, "compact_cycle")
    shutil.rmtree(root, ignore_errors=True)
    writer = SortedParquetWriter(spark, root, opts)
    writer.write(li.filter(F.col("l_orderkey") % 3 == 0))
    writer.write(li.filter(F.col("l_orderkey") % 3 == 1))
    writer.write(li.filter(F.col("l_orderkey") % 3 == 2))
    assert len(writer.part_dirs) == 3
    compact_dir = writer.compact()
    back = spark.read.parquet(compact_dir)
    assert back.count() == li.count()


def _bloom_offsets(spark, path: str) -> dict[str, int]:
    """Read per-column bloom offsets from the parquet footer via
    parquet-hadoop (pyarrow 16 does not expose them)."""
    fname = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(os.path.join(path, fname)), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(input_file)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        return {
            cols.get(i).getPath().toDotString(): cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        reader.close()


def test_bloom_filter_written(spark, sf_smoke):
    """The bloom option must reach the parquet footer (reference
    `db/writer.go:55-58`).  parquet-java only materializes the bloom when
    the column is not fully dictionary-encoded (a complete dictionary is
    already an exact membership filter), so we force dictionary off for the
    probe column."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    out = os.path.join(WORK, "bloom")
    opts = WriterOptions(
        sort_columns=["l_orderkey"],
        bloom_columns=["l_orderkey"],
        max_files=2,
    )
    opts.no_dictionary_columns = ["l_orderkey"]
    write_sorted(li, out, opts)
    offsets = _bloom_offsets(spark, out)
    assert offsets["l_orderkey"] > 0, offsets
    # non-bloom columns must not carry one
    assert offsets["l_partkey"] == -1


def test_partition_count_capped_by_estimated_bytes(spark):
    """A spark.range-derived frame whose plan estimate is far off (a
    cross join's sizeInBytes is the PRODUCT of its inputs') must not
    turn narrow rows into a huge file count: unless the caller counted
    the rows, every file carries at least MIN_FILE_BYTES of the plan's
    byte estimate.  A caller-counted frame keeps its exact sizing."""
    from tsdb_parquet_spark.sources.writer import (
        MIN_FILE_BYTES,
        _est_row_bytes,
        _partition_count,
    )

    series = spark.range(1000).withColumnRenamed("id", "sid")
    steps = spark.range(2880).withColumnRenamed("id", "k")
    df = series.crossJoin(steps).select(
        F.col("sid").cast("string").alias("host"),
        (F.col("k") * 60_000).alias("ts"),
        F.rand(1).alias("value"),
    )
    opts = WriterOptions(sort_columns=["host", "ts"])
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    from_rows = size * 4 // _est_row_bytes(df) // opts.rows_per_part
    parts = _partition_count(df, opts)
    assert parts <= -(-size // MIN_FILE_BYTES)
    assert parts * 2 < from_rows  # the row estimate alone asked for more
    # the true row count sizes exactly: 2.88M rows / 256Ki rows per part
    assert _partition_count(df, opts, n_rows=2_880_000) == 11


def test_explicit_file_compression_factor_is_honored(spark):
    """An operator's explicit fileCompressionFactor — 1.0 included — is
    used as set; only an unset conf falls back to the 4x default."""
    from tsdb_parquet_spark.sources.writer import _compression_factor

    key = "spark.sql.sources.fileCompressionFactor"
    before = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        assert _compression_factor(spark) == 4.0
        spark.conf.set(key, "1.0")
        assert _compression_factor(spark) == 1.0
        spark.conf.set(key, "2.5")
        assert _compression_factor(spark) == 2.5
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
