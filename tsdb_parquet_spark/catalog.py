"""Table catalog over the driver-provided Parquet testdata.

The reference plans one file at a time from footer metadata
(`db/file_reader.go:43-110`); Spark's catalog + datasource layer does the
same from Parquet footers, so this module is a thin loader that also
registers temp views for the SQL surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsdb_parquet_spark.session import configure_session

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Widen a narrow scan to the session's parallelism.

    A parquet file is splittable only at row-group boundaries, so a
    single-row-group file scans as ONE task and every scan-adjacent
    expression (parse/hash/decode) serializes onto one core
    no matter the cluster size.  Compute-heavy operators call this
    before their expensive per-row work: when the input is already wider
    than the session parallelism it is a strict no-op (the 100 TB case —
    thousands of row groups), otherwise one round-robin repartition
    spreads the rows so the heavy expressions run on every core.

    CAVEAT — deterministic filters downstream of the repartition get
    predicate-pushed BELOW the exchange, dragging their whole expression
    back onto the serial scan task (and re-evaluating it post-exchange).
    A non-deterministic pin column does NOT block this (column pruning
    deletes it before the pushdown rule runs).  Callers that filter on
    heavy computed columns must place a real barrier between the
    compute and the filter: ``persist()`` (cache boundary — filters
    apply on top of the InMemoryTableScan) or ``localCheckpoint()``
    (lineage cut); `tests/test_plans.py` pins both the trap and the
    barrier.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to the engine's int64 epoch-nanos
    contract (the reference keeps all timestamps as int64 —
    `schema/chunk.go:31-34`).

    The testdata has shipped ``events.ts`` both as TIMESTAMP(NANOS)
    (read as int64 via ``nanosAsLong``) and as ``timestamp[us]`` (read as
    TIMESTAMP_NTZ); downstream code must not care.  With the session
    timezone pinned to UTC (`session.py`), the NTZ→TIMESTAMP cast is
    epoch-faithful, matching DuckDB's ``epoch_ns`` on the same column.

    Scale note: this is a projection over the scan, so ts predicates
    written against the normalized column don't reach PushedFilters on the
    raw file — the engine's real scan path is the chunk store, whose
    mint/maxt pruning columns are native int64 (`sources/writer.py`).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype in ("timestamp", "timestamp_ntz"):
        ns = F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)
        df = df.withColumn(col, ns)
    return df


class Catalog:
    """Loads the ten testdata tables from an sf directory.

    ``catalog[name]`` returns the DataFrame; :meth:`register_views` makes
    them available to ``spark.sql``.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = configure_session(spark)
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; available: {TABLES}")
        if name not in self._cache:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            df = self.spark.read.parquet(path)
            if name == "events":
                df = normalize_event_time(df)
            self._cache[name] = df
        return self._cache[name]

    __getitem__ = table

    def register_views(self) -> None:
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)

    def sql(self, query: str) -> DataFrame:
        """Run SQL against the registered testdata views."""
        self.register_views()
        return self.spark.sql(query)
