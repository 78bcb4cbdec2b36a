"""Correctness gate: compare the engine's dumped query outputs with the
DuckDB replay of each query's oracle SQL over the same generated files.

The normalisation follows `tools/check.py` (columns sorted by name,
timestamps at microsecond precision, floats printed with 10 significant
digits); the hash is order-independent: rows are hashed as a sorted multiset,
so a query whose output order is unspecified still compares exactly.
"""
import csv
import datetime
import glob
import hashlib
import io
import os

import duckdb
import pandas as pd

from gen import TABLES


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], datetime.date):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df


def _hash(df):
    text = df.to_csv(index=False, header=False, float_format="%.10g")
    rows = sorted(tuple(r) for r in csv.reader(io.StringIO(text)))
    h = hashlib.md5()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def _read_dump(path):
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        raise FileNotFoundError(f"no parquet output under {path}")
    return _norm(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))


def check(data_dir, dump_dir, oracles, queries):
    """Return {query: None if correct else reason}. A query with an oracle
    must match it in rows, column names, column types and hash; a query
    without one must give the same hash on its two dumps (`<q>` and
    `<q>.rerun`)."""
    verdicts = {}
    for q in queries:
        try:
            got = _read_dump(os.path.join(dump_dir, q))
            if q in oracles:
                con = duckdb.connect()
                try:
                    for t in TABLES:
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
                    want = _norm(con.sql(oracles[q]).df())
                finally:
                    con.close()
                if len(got) != len(want):
                    verdicts[q] = f"rows {len(got)} != oracle {len(want)}"
                elif list(got.columns) != list(want.columns):
                    verdicts[q] = f"columns {list(got.columns)} != oracle {list(want.columns)}"
                elif list(got.dtypes) != list(want.dtypes):
                    verdicts[q] = f"schema {dict(got.dtypes.astype(str))} != oracle {dict(want.dtypes.astype(str))}"
                elif _hash(got) != _hash(want):
                    verdicts[q] = "hash differs from oracle"
                else:
                    verdicts[q] = None
            else:
                again = _read_dump(os.path.join(dump_dir, q + ".rerun"))
                verdicts[q] = None if _hash(got) == _hash(again) else "output hash differs between runs"
        except Exception as e:  # a broken dump or oracle is a failed query
            verdicts[q] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return verdicts
