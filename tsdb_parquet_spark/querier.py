"""ChunkQuerier — the series-selection surface (reference M2).

Implements the querier semantics of `prometheus/querier.go:26-101`:

- ``select(mint, maxt, matchers, grouping)``: chunks **fully contained** in
  the query window (``__mint >= mint AND __maxt <= maxt``, inclusive —
  `prometheus/querier.go:67-70`), label matchers as pushdown predicates,
  then one row per distinct ``__series__id`` projecting the grouping labels
  (`prometheus/querier.go:80-88`).
- ``label_names`` / ``label_values``: implemented honestly (the reference
  declares them and panics — `prometheus/querier.go:93-101`).
- ``select_chunks``: the raw filtered chunk rows (the CLI path,
  `cmd/read/main.go:95-126`).
- ``select_samples``: select + explode of the ``__ts``/``__values``
  payload arrays — real sample reads, which the reference stubs
  (`prometheus/chunks_iterator.go:12-24`).  A store whose payload is
  still a ``__chunk_bytes`` blob (a reference-converted file) is
  converted at the scan by `chunks.blobs_to_arrays`.

Every method returns a lazy DataFrame; Catalyst pushes the matcher and time
predicates into the Parquet scan (bloom / zone-map / dictionary pruning =
reference P8-P13 for free).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsdb_parquet_spark.chunks import chunks_to_samples
from tsdb_parquet_spark.operators.selection import (
    Matcher,
    apply_matchers,
    conjunction,
)
from tsdb_parquet_spark.schema import (
    MAX_T,
    MIN_T,
    RESERVED_COLUMNS,
    SERIES_ID,
)


class ChunkQuerier:
    def __init__(self, chunks: DataFrame):
        self.chunks = chunks

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "ChunkQuerier":
        return cls(spark.read.parquet(path))

    @classmethod
    def from_store(cls, spark: SparkSession, store: str) -> "ChunkQuerier":
        """Open either a plain parquet directory (a ``compact`` dir) or
        an incremental-writer ROOT (``_snapshots`` + ``part.N`` +
        ``compact`` alias): the root reads exactly the manifest's live
        directory set — a raw ``read.parquet(root)`` would double-count
        compacted parts against the compact copy."""
        import os

        if os.path.isdir(store) and any(
            e == "_snapshots" or e.startswith(("part.", "compact"))
            for e in os.listdir(store)
        ):
            from tsdb_parquet_spark.sources.writer import (
                live_store_dirs,
                read_roots,
            )

            return cls(read_roots(spark, live_store_dirs(store)))
        return cls(spark.read.parquet(store))

    @classmethod
    def from_stores(cls, spark: SparkSession, paths: list[str]) -> "ChunkQuerier":
        """Open several chunk stores with different (wide) label schemas —
        the reference's schemas are data-inferred per file
        (`schema/chunk.go:87-95`, `cmd/convert/main.go:46`), so two stores
        may disagree on label columns.  Spark merges the schemas; labels
        absent from a store are filled with "" to match the reference's
        missing-label convention (`schema/chunk.go:109-112`)."""
        # ""-fill ONLY labels some store lacks: a blanket coalesce would
        # wrap every label and block parquet predicate pushdown for every
        # matcher on the merged store (footer reads here are per-store
        # driver-side planning, not a data scan).  Columns present in every
        # store are safe to leave bare because `samples_to_chunks` coalesces
        # labels to "" at write time — NULL labels never reach a store.
        common = set.intersection(
            *(set(spark.read.parquet(p).schema.fieldNames()) for p in paths)
        )
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        for field in df.schema.fields:
            if field.name not in RESERVED_COLUMNS and field.name not in common:
                df = df.withColumn(field.name, F.coalesce(field.name, F.lit("")))
        return cls(df)

    @property
    def label_columns(self) -> list[str]:
        return [
            c
            for c in self.chunks.columns
            if c not in RESERVED_COLUMNS and c != self.DAY_PARTITION
        ]

    #: convention: a store partitioned by day carries this derived column
    #: (``__mint div 86_400_000``) as its hive partition key
    DAY_PARTITION = "__day"
    _DAY_MS = 86_400_000

    def _time_preds(self, mint: int | None, maxt: int | None) -> list:
        # containment semantics (`prometheus/querier.go:67-70`): the chunk's
        # whole [mint, maxt] range must lie inside the query window
        preds = []
        if mint is not None:
            preds.append(F.col(MIN_T) >= F.lit(int(mint)))
        if maxt is not None:
            preds.append(F.col(MAX_T) <= F.lit(int(maxt)))
        if self.DAY_PARTITION in self.chunks.columns:
            # derived partition predicates: __day = __mint div day, and
            # containment bounds __mint within [mint, maxt], so the day
            # bounds below are implied — adding them explicitly lets the
            # driver prune whole partition directories (PartitionFilters).
            # Restricted to non-negative timestamps so `div` (trunc) and
            # `//` (floor) agree.
            if mint is not None and mint >= 0:
                preds.append(
                    F.col(self.DAY_PARTITION) >= F.lit(int(mint) // self._DAY_MS)
                )
            if maxt is not None and maxt >= 0:
                preds.append(
                    F.col(self.DAY_PARTITION) <= F.lit(int(maxt) // self._DAY_MS)
                )
        return preds

    def _filtered(
        self, mint: int | None, maxt: int | None, matchers: Iterable[Matcher]
    ) -> DataFrame:
        return apply_matchers(self.chunks, matchers).filter(
            conjunction(self._time_preds(mint, maxt))
        )

    def select_chunks(
        self,
        mint: int | None = None,
        maxt: int | None = None,
        matchers: Sequence[Matcher] = (),
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Scan -> prune -> project (`cmd/read/main.go:95-126`)."""
        df = self._filtered(mint, maxt, matchers)
        return df.select(*columns) if columns else df

    def select(
        self,
        mint: int | None = None,
        maxt: int | None = None,
        matchers: Sequence[Matcher] = (),
        grouping: Sequence[str] | None = None,
    ) -> DataFrame:
        """Series enumeration (`prometheus/querier.go:80-88`): distinct
        series ids + grouping labels."""
        grouping = list(grouping) if grouping is not None else self.label_columns
        df = self._filtered(mint, maxt, matchers)
        return df.select(SERIES_ID, *grouping).dropDuplicates([SERIES_ID])

    def select_samples(
        self,
        mint: int | None = None,
        maxt: int | None = None,
        matchers: Sequence[Matcher] = (),
        labels: Sequence[str] | None = None,
    ) -> DataFrame:
        from tsdb_parquet_spark.names import escape_name

        # callers may name labels RAW (dotted UTF-8); store columns are
        # their U__ value-encoded forms (identity for classic names)
        labels = (
            [escape_name(n) for n in labels]
            if labels is not None
            else self.label_columns
        )
        # the explode projects labels + payload; Catalyst prunes the scan
        # to those columns
        df = self.select_chunks(mint, maxt, matchers)
        return chunks_to_samples(df, labels)

    def label_names(self, matchers: Sequence[Matcher] = ()) -> list[str]:
        """All label names with at least one non-empty value under the
        matchers (absent labels are written as "" — `schema/chunk.go:
        109-112`)."""
        df = self._filtered(None, None, matchers)
        agg = df.agg(
            *[
                F.max(F.col(c) != F.lit("")).alias(c)
                for c in self.label_columns
            ]
        ).collect()[0]
        from tsdb_parquet_spark.names import unescape_name

        return sorted(
            unescape_name(c) for c in self.label_columns if agg[c]
        )

    def tsdb_stats(self) -> DataFrame:
        """Cardinality statistics — the Prometheus /api/v1/status/tsdb
        surface (numSeries + per-label value counts) the reference's
        storage layer never exposes.  One row per label:
        ``(stat='label_values:<name>', n)`` plus ``(stat='series', n)``.

        One melt via a map literal + explode turns every label cell into
        a (name, value) pair, then a single groupBy counts distinct
        values for ALL labels in one shuffle — the same plan shape as
        :meth:`label_values` but amortized across the label set; the
        series count is a second map-side-combined distinct over the
        sorted ``__series__id`` column."""
        from itertools import chain

        from tsdb_parquet_spark.names import unescape_name

        # stats report RAW label names, not their U__ column forms
        kv = F.create_map(
            *chain.from_iterable(
                (F.lit(unescape_name(c)), F.col(c))
                for c in self.label_columns
            )
        )
        pairs = self.chunks.select(F.explode(kv).alias("__lbl", "__val"))
        label_stats = (
            pairs.filter(F.col("__val") != F.lit(""))
            .groupBy("__lbl")
            .agg(F.countDistinct("__val").alias("n"))
            .select(
                F.concat(F.lit("label_values:"), F.col("__lbl")).alias(
                    "stat"
                ),
                F.col("n"),
            )
        )
        series = (
            self.chunks.agg(F.countDistinct(F.col(SERIES_ID)).alias("n"))
            .select(F.lit("series").alias("stat"), F.col("n"))
        )
        return label_stats.unionByName(series)

    def label_values(self, name: str, matchers: Sequence[Matcher] = ()) -> DataFrame:
        from tsdb_parquet_spark.names import escape_name

        name = escape_name(name)  # a UTF-8 name resolves to its column
        df = self._filtered(None, None, matchers)
        return (
            df.select(F.col(name).alias("value"))
            .filter(F.col("value") != F.lit(""))
            .distinct()
            .orderBy("value")
        )
