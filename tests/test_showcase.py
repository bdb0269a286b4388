"""showcase_regional_revenue_5way on a hand-built fixture whose exact
revenue sits on a half cent while its double sum reads just below it."""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from etl_aws_spark.registry import all_oracles, all_queries
from tools.check import compare

# nation -> (price, discount) lineitems; FRANCE is outside ASIA
LINES = {
    "JAPAN": [(10.10, 0.05), (1.00, 0.00)],  # exact 10.595
    "CHINA": [(11.50, 0.07)],  # exact 10.695
    "FRANCE": [(11.50, 0.05)],
}


def _write_fixture(root):
    nations = list(LINES)
    tables = {
        "region": {"r_regionkey": pa.array([2, 3], pa.int32()), "r_name": ["ASIA", "EUROPE"]},
        "nation": {
            "n_nationkey": pa.array([0, 1, 2], pa.int32()),
            "n_name": nations,
            "n_regionkey": pa.array([2, 2, 3], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array([10, 11, 12], pa.int64()),
            "c_nationkey": pa.array([0, 1, 2], pa.int32()),
        },
        "orders": {
            "o_orderkey": pa.array([100, 101, 102], pa.int64()),
            "o_custkey": pa.array([10, 11, 12], pa.int64()),
        },
    }
    keys, prices, discounts = [], [], []
    for i, nation in enumerate(nations):
        for price, discount in LINES[nation]:
            keys.append(100 + i)
            prices.append(price)
            discounts.append(discount)
    tables["lineitem"] = {
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_extendedprice": pa.array(prices, pa.float64()),
        "l_discount": pa.array(discounts, pa.float64()),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), str(root / f"{name}.parquet"))


def test_regional_revenue_rounds_exact_half_cent_up(spark, tmp_path):
    # the premise: each ASIA total is exactly on a half cent, and the
    # double fold of price * (1 - discount) reads below it
    for nation in ("JAPAN", "CHINA"):
        exact = sum(Decimal(str(p)) * (1 - Decimal(str(d))) for p, d in LINES[nation])
        assert exact.as_tuple().exponent == -3 and exact.as_tuple().digits[-1] == 5
        assert Decimal(repr(sum(p * (1 - d) for p, d in LINES[nation]))) < exact

    _write_fixture(tmp_path)
    name = "showcase_regional_revenue_5way"
    got = all_queries()[name](spark, str(tmp_path)).toPandas()
    assert dict(zip(got["n_name"], got["revenue"])) == {"JAPAN": 10.60, "CHINA": 10.70}

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path / t}.parquet')")
    assert compare(name, got, con.execute(all_oracles()[name]).df()) == ("OK", "")
