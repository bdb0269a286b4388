"""Smoke tests for the driver contract (__spark_entry__.py)."""

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as ent


def test_entry_runs_and_returns_rows(spark):
    df = ent.entry(spark)
    assert df.count() > 0
    cols = set(df.columns)
    assert {"user_id", "ts", "value", "value_diff", "lag_1_value_diff", "rolling_mean_3_value_diff"} <= cols


def test_every_query_has_callable_and_registry_consistency():
    qs, oracles = ent.queries(), ent.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


@pytest.fixture(scope="module")
def registry_failures(spark):
    """Build every registered query ONCE at sf0.001, check its schema, then
    run it; collect both kinds of failure for the two tests below."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    complex_cols, run_errors = [], []
    for name, fn in ent.queries().items():
        try:
            df = fn(spark, "/root/testdata/sf0.001")
        except Exception as e:  # unbuilt means unchecked: fails both tests
            complex_cols.append(f"{name}: not built: {type(e).__name__}: {str(e)[:300]}")
            run_errors.append(complex_cols[-1])
            continue
        for field in df.schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                complex_cols.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
        try:
            if not df.columns:
                run_errors.append(f"{name}: no columns")
            df.limit(5).collect()
        except Exception as e:
            run_errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
    return complex_cols, run_errors


def test_no_complex_typed_query_outputs(registry_failures):
    """Registry-wide guard: no query may emit a top-level Array/Map/Struct
    column. The external correctness gate canonicalizes results with a
    pandas sort, which cannot order complex-typed cells (r4's
    embedding_label_centroids red row: TypeError unhashable 'list').
    Vector-valued results must ship in exploded scalar form instead."""
    offenders = registry_failures[0]
    assert not offenders, (
        "complex-typed output columns break the driver's pandas canonicalizer: "
        + "; ".join(offenders)
    )


def test_queries_run_at_sf0001(registry_failures):
    """Every registered query must execute and return a stable schema at the
    smallest scale factor (cheap end-to-end sanity; value checks are in
    tools/check.py against DuckDB)."""
    errors = registry_failures[1]
    assert not errors, "; ".join(errors)
