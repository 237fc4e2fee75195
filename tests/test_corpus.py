"""Local replica of the driver's t2 gate: every corpus entry with an oracle
must hash-match DuckDB at sf0.01 (column names, row count, canonical
order-insensitive values)."""

import pytest

import __spark_entry__ as entry_mod
from tsdb_parquet_spark.oracle import compare


def _oracle_names():
    return sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_match(spark, sf_oracle, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    result = compare(name, fn(spark, sf_oracle), sql, sf_oracle)
    assert result.columns_match, (
        f"columns differ: spark={result.spark_cols} oracle={result.oracle_cols}"
    )
    assert result.spark_rows == result.oracle_rows, (
        f"row count: spark={result.spark_rows} oracle={result.oracle_rows}"
    )
    assert result.hash_match, f"value mismatch: {result.sample_diff}"
    assert not result.dtype_skew, (
        "oracle dtype skew (driver's strict hasher would fail even if "
        f"values agree): {result.dtype_skew}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == [
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_price",
        "cnt",
    ]


def test_every_query_has_runnable_df(spark, sf_smoke):
    """Every queries() entry must build and execute at smoke scale."""
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_smoke)
        assert df.count() >= 0, name


def test_work_builders_publish_atomically():
    """Round-11's q77 red row was a torn .work store: a builder wrote
    directly into its final cache directory while a second process raced
    the first build (bench prebuild vs pytest), interleaving part files.
    Pin the invariant so the next builder can't regress it: every
    corpus.py function that materializes a .work fixture must publish
    through ``_staged_publish`` (or an inline ``.build-{pid}`` +
    ``os.rename``), a pid-scoped root, or a single-object atomic
    ``upload`` (pid-suffixed tmp + ``os.replace``)."""
    import ast
    import inspect

    import tsdb_parquet_spark.corpus as corpus

    src = inspect.getsource(corpus)
    lines = src.splitlines()
    builders, offenders = [], []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.FunctionDef):
            continue
        body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
        if 'os.path.join(work, f"' not in body:
            continue
        builders.append(node.name)
        if not (
            "_staged_publish(" in body
            or ".build-" in body
            or "os.getpid()" in body
            or ".upload(" in body
        ):
            offenders.append(node.name)
    assert len(builders) >= 25, "AST sweep lost the builder population"
    assert not offenders, (
        f"builders publishing in place (tearable under concurrency): "
        f"{offenders}"
    )
