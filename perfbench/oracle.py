"""Independent answers from DuckDB and the comparison rule of
scripts/check_oracle.py: columns sorted by name, same column names, same
row count, same dtype kind per column, then every value equal (floats
exactly, NaN equal to NaN; everything else compared as strings)."""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("events", "lineitem", "documents", "embeddings")


def connect(data_dir):
    """DuckDB views over the generated tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def expected(con, sql, cache_dir):
    """The DuckDB answer for `sql`, cached as parquet under `cache_dir`,
    which the caller names after the input digest: the answer depends only
    on the inputs and the SQL text."""
    h = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{h}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    return df


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(got, want):
    """Problems found comparing a Spark result with the oracle's; [] if equal."""
    if got is None:
        return ["no spark output"]
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    problems = []
    norm = {"u": "i"}
    for c in got.columns:
        ka, kb = got[c].dtype.kind, want[c].dtype.kind
        if norm.get(ka, ka) != norm.get(kb, kb):
            problems.append(f"{c}: dtype {got[c].dtype} (spark) vs {want[c].dtype} (oracle)")
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = a.astype(float).to_numpy()
            b = b.astype(float).to_numpy()
            same = (a == b) | (np.isnan(a) & np.isnan(b))
            if not same.all():
                i = int(np.argmin(same))
                problems.append(f"{c}: row {i}: {a[i]!r} != {b[i]!r}")
        else:
            sa, sb = a.astype(str).to_numpy(), b.astype(str).to_numpy()
            if not (sa == sb).all():
                i = int(np.argmax(sa != sb))
                problems.append(f"{c}: row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}")
    return problems
