"""DuckDB oracle check of one run's op outputs.

Each op's Spark result (parquet written by the harness's check pass) is
compared with the op's ``SparkEntry.oracleSql`` run by DuckDB over the same
input files, using the canonicalisation of the repo's ``tools/check.py``:
sorted column names, equal dtypes, equal row counts, and exact values
after a total sort.
"""
import glob
import importlib.util
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _load_canon(root):
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _quote(s):
    return "'" + s.replace("'", "''") + "'"


def _compare(a, b):
    """None when the canonicalised frames match, else the first mismatch."""
    if list(a.columns) != list(b.columns):
        return f"cols spark={list(a.columns)} duck={list(b.columns)}"
    bad = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns if a[c].dtype != b[c].dtype]
    if bad:
        return f"dtype mismatch {bad}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating):
            af, bf = av.astype(float), bv.astype(float)
            if not ((af == bf) | (np.isnan(af) & np.isnan(bf))).all():
                return f"{c}: float mismatch maxabs={np.nanmax(np.abs(af - bf))}"
        else:
            sa = pd.Series(av).astype(object).fillna("\x00").values
            sb = pd.Series(bv).astype(object).fillna("\x00").values
            diff = sa != sb
            if diff.any():
                i = int(np.argmax(diff))
                return f"{c}: value mismatch at row {i}: spark={av[i]!r} duck={bv[i]!r}"
    return None


def check(root, data_dir, check_dir, ops, threads):
    """Return {op: None | failure text} for every op in ``ops``."""
    canon = _load_canon(root)
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for entry in sorted(os.listdir(data_dir)):
        name, ext = os.path.splitext(entry)
        if ext != ".parquet":
            continue
        path = os.path.join(data_dir, entry)
        src = f"read_parquet({_quote(os.path.join(path, '*.parquet'))})" \
            if os.path.isdir(path) else _quote(path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for op in ops:
        files = sorted(glob.glob(os.path.join(check_dir, op, "*.parquet")))
        if not files:
            result[op] = "no spark output"
            continue
        spark_df = pd.concat([pd.read_parquet(p) for p in files])
        if op not in oracle:
            result[op] = None if len(spark_df) else "no oracle and no rows"
            continue
        try:
            duck_df = con.execute(oracle[op]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[op] = f"oracle SQL error: {e}"
            continue
        result[op] = _compare(canon(spark_df), canon(duck_df))
    con.close()
    return result
