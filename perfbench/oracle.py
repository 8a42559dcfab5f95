"""Output check of query ops against the DuckDB oracle.

Each query op's result is compared with `SparkEntry.oracleSql` run by
DuckDB on the same inputs, normalised the same way as
`tools/check_correctness.py`: columns by name, rows sorted by their string
form, float columns equal exactly, other columns equal as strings.

Oracle answers are cached under `perfbench/.cache/oracle`, keyed by the
digest of the input content and of the SQL text. Seeds only permute rows,
so one answer serves every seed.
"""
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ("events", "documents", "embeddings")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def mismatch(got, want):
    """None when the frames agree, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"

    def kind(s):
        k = s.dtype.kind
        return "i" if k in "iu" else k
    bad = [(c, str(got[c].dtype), str(want[c].dtype))
           for c in got.columns if kind(got[c]) != kind(want[c])]
    if bad:
        return f"dtype kinds differ {bad}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                return f"col {c}: {int(np.sum(~eq))} diffs, maxabs {np.nanmax(np.abs(av - bv)):.3e}"
        elif not a.astype(str).equals(b.astype(str)):
            i = (a.astype(str) != b.astype(str)).idxmax()
            return f"col {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


class Oracle:
    def __init__(self, cache_dir, content_digest, sql, threads):
        self.cache_dir = cache_dir
        self.content = content_digest
        self.sql = sql
        self.threads = threads
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, name):
        h = hashlib.sha256((self.content + "\0" + self.sql[name]).encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{name}-{h[:24]}.pkl")

    def _connect(self, input_dir=None):
        # spills stay in the cache dir; extensions are never fetched
        con = duckdb.connect(config={
            "threads": self.threads, "autoinstall_known_extensions": False,
            "temp_directory": os.path.join(self.cache_dir, "duckdb-tmp")})
        for t in TABLES if input_dir else ():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
        return con

    def fill(self, names, input_dir):
        """Compute and cache the answers not cached yet."""
        todo = [n for n in names if n in self.sql and not os.path.exists(self._path(n))]
        if not todo:
            return
        con = self._connect(input_dir)
        for n in todo:
            want = norm(con.sql(self.sql[n]).df())
            tmp = self._path(n) + ".tmp"
            with open(tmp, "wb") as fh:
                pickle.dump(want, fh)
            os.replace(tmp, self._path(n))
        con.close()

    def check(self, name, output_dir):
        """None when the op's parquet output matches the oracle."""
        if name not in self.sql:
            return "no oracle SQL for this key"
        with open(self._path(name), "rb") as fh:
            want = pickle.load(fh)
        con = self._connect()
        try:
            got = norm(con.sql(f"SELECT * FROM read_parquet('{output_dir}/*.parquet')").df())
        finally:
            con.close()
        return mismatch(got, want)
