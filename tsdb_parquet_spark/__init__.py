"""tsdb_parquet_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of fpetkovski/tsdb-parquet, re-expressed
Spark-first.

The reference is a single-process Go engine that stores Prometheus TSDB
chunks as sorted Parquet and answers series-selection queries with
bloom/zone-map/dictionary pruning (see SURVEY.md).  Here the same
capabilities are declared through the DataFrame/SQL API and executed by
Catalyst + the vectorized Parquet reader; the net-new code is confined to:

- the write-path layout contract (sorted parts + compaction + bloom/page
  options)                       -> :mod:`tsdb_parquet_spark.sources.writer`
- the chunk data model + querier  -> :mod:`tsdb_parquet_spark.schema`,
                                     :mod:`tsdb_parquet_spark.querier`
- a PromQL-subset translator      -> :mod:`tsdb_parquet_spark.plans.promql`
- streaming ingestion             -> :mod:`tsdb_parquet_spark.streaming`
- LLM-data-pipeline text operators -> :mod:`tsdb_parquet_spark.functions`
- the Prometheus HTTP API and the remote-read/write, OTLP, scrape and
  WAL/block ingest paths          -> :mod:`tsdb_parquet_spark.api` and
                                     the modules named after each
"""

from tsdb_parquet_spark.session import get_spark, configure_session
from tsdb_parquet_spark.catalog import Catalog, TABLES

__all__ = ["get_spark", "configure_session", "Catalog", "TABLES"]
__version__ = "0.1.0"
