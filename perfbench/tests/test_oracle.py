import numpy as np
import pandas as pd

import oracle


def _frame():
    return pd.DataFrame({
        "k": np.arange(6, dtype=np.int64),
        "v": [0.5, 1.25, -3.0, np.nan, 2.0, 0.0],
        "s": ["a", "b", None, "d", "e", "f"],
        "t": pd.to_datetime(["2024-01-0%d" % i for i in range(1, 7)]),
    })


def test_digest_ignores_row_and_column_order_and_int_width():
    a = _frame()
    b = a.sample(frac=1, random_state=3)[["t", "s", "v", "k"]].reset_index(drop=True)
    b["k"] = b["k"].astype("int32")
    assert oracle.digest(a) == oracle.digest(b)


def test_digest_sees_a_changed_value_or_row():
    a = _frame()
    b = a.copy()
    b.loc[1, "v"] += 1e-12
    assert oracle.digest(a) != oracle.digest(b)
    assert oracle.digest(a) != oracle.digest(a.iloc[:-1])
    assert oracle.digest(a) != oracle.digest(pd.concat([a, a.iloc[:1]]))
