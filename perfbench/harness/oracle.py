"""Compares query results with the engine's DuckDB oracle SQL.

The per-column comparison is `tools/check_oracle.py`'s: the same dtype
parity rule, the same normalisation (sorted columns and rows, canonical
dtypes) and the same tolerance (floats within 1e-9 absolute, NaN equal).
That script's helpers are imported from the checkout; only the loop that
walks a result directory is here, because the benchmark compares query by
query and keeps going after a mismatch.
"""
import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

def load_check_oracle(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(expected_raw, actual_raw, co):
    """None when the frames match under check_oracle's rules, else why not."""
    parity = co.dtype_parity_errors(expected_raw, actual_raw)
    if parity:
        return "dtype parity: " + "; ".join(parity)
    expected = co.normalize(expected_raw)
    actual = co.normalize(actual_raw)
    if list(expected.columns) != list(actual.columns):
        return f"columns {list(actual.columns)} != {list(expected.columns)}"
    if len(expected) != len(actual):
        return f"rows {len(actual)} != {len(expected)}"
    for c in expected.columns:
        e, a = expected[c], actual[c]
        if pd.api.types.is_float_dtype(e):
            bad = ~np.isclose(e, a, rtol=0, atol=1e-9, equal_nan=True)
        else:
            bad = (~((e == a) | (e.isna() & a.isna()))).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"col {c} row {i}: {a.iloc[i]!r} != {e.iloc[i]!r}"
    return None


def check_outputs(root, data_dir, outputs, oracle_sql):
    """One check per query: its result directory vs its oracle SQL."""
    co = load_check_oracle(root)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    checks = []
    for name in sorted(outputs):
        try:
            expected = con.execute(oracle_sql[name]).df()
            actual = pd.read_parquet(outputs[name])
            why = compare(expected, actual, co)
        except Exception as ex:  # noqa: BLE001 - any failure is a mismatch
            why = f"oracle error: {ex}"
        checks.append({"name": f"query_suite.{name}", "ok": why is None,
                       "detail": why or f"{len(actual)} rows match oracle"})
    con.close()
    return checks
