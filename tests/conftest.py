import os
import sys

import pytest

from etl_aws_spark.session import get_session

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def registry_failures(spark):
    """Build every registered query ONCE at sf0.001: check its schema,
    record its physical-plan fingerprint, then run it. Returns (complex-
    typed output columns, build/run failures, {name: fingerprint}) for the
    two registry guards in test_entry.py and the plan-ledger test in
    test_plans.py. The fingerprint is taken before the query runs, so a
    query whose plan depends on its artifact cache is pinned as built
    from whatever the cache holds at that first build."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from etl_aws_spark.registry import all_queries
    from tools.plan_report import fingerprint

    complex_cols, run_errors, fingerprints = [], [], {}
    for name, fn in all_queries().items():
        try:
            df = fn(spark, "/root/testdata/sf0.001")
        except Exception as e:  # unbuilt means unchecked: fails all three tests
            complex_cols.append(f"{name}: not built: {type(e).__name__}: {str(e)[:300]}")
            run_errors.append(complex_cols[-1])
            fingerprints[name] = ("-", "-", f"ERROR {str(e)[:40]}", "-", "-")
            continue
        for field in df.schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                complex_cols.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
        try:
            fingerprints[name] = fingerprint(
                df._jdf.queryExecution().executedPlan().toString()
            )
            if not df.columns:
                run_errors.append(f"{name}: no columns")
            df.limit(5).collect()
        except Exception as e:
            run_errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            fingerprints.setdefault(name, ("-", "-", f"ERROR {str(e)[:40]}", "-", "-"))
    return complex_cols, run_errors, fingerprints
