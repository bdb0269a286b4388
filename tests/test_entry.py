"""Smoke tests for the driver contract (__spark_entry__.py)."""

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
