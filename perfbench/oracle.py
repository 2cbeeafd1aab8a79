"""DuckDB oracle compare for the query_mix outputs: each saved query output
against its registry oracle SQL over the same tables, with the repo's
correctness checker (tools/check.py): columns sorted by name, rows by all
columns, values compared exactly (NaN equal to NaN).
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check  # noqa: E402


def _mismatch(got, exp):
    """The first difference between two outputs after check.canon, or None."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    g, e = check.canon(got), check.canon(exp)
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        neq = g[c] != e[c]
        if pd.api.types.is_float_dtype(g[c]):
            neq &= ~(g[c].isna() & e[c].isna())
        if neq.any():
            i = int(np.argmax(neq.values))
            return f"column {c} row {i}: {g[c].iloc[i]!r} != {e[c].iloc[i]!r}"
    return None


def check_outputs(out_dir, data_dir, queries):
    """Return {query: None if it matches its oracle, else the reason}."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    result = {}
    for q in queries:
        got = check.load_spark(out_dir, q)
        if got is None or len(got) == 0:
            result[q] = "no output" if got is None else "empty output"
            continue
        if q not in oracle:
            result[q] = "no oracle"
            continue
        try:
            exp = con.execute(oracle[q]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[q] = f"oracle error {e}"
            continue
        result[q] = _mismatch(got, exp)
    con.close()
    return result
