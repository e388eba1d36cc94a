"""Output check for a benchmark run: each query's result, as the harness
wrote it to parquet, against its DuckDB oracle from graft.SparkEntry.oracleSql.

The comparison rules are those of the repo's correctness gate: columns
sorted by name must match, then the row count, then every value in row
order, nulls equal to nulls. A query without an oracle fails the check:
every workload query has one. DuckDB results are cached under the build dir, keyed by the oracle
SQL and the lake's file sizes and times, since the oracle is the reference
and not the thing measured.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def lake_key(sf_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{int(st.st_mtime)};".encode())
    return h.hexdigest()


def expected(sql, sf_dir, cache_dir):
    key = hashlib.sha256((lake_key(sf_dir) + sql).encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        ref = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    ref.to_pickle(tmp)
    os.replace(tmp, path)
    return ref


def same_values(mine, ref):
    bad = []
    for c in mine.columns:
        a, b = mine[c], ref[c]
        try:
            same = (a.astype(object).where(a.notna(), None).tolist()
                    == b.astype(object).where(b.notna(), None).tolist())
        except Exception:
            same = False
        if not same:
            bad.append(c)
    return bad


def check(check_dir, names, oracles, sf_dir, cache_dir):
    """Returns {query: "ok" | failure reason}."""
    status = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            status[name] = "no output"
            continue
        mine = pd.concat([pq.read_table(f).to_pandas() for f in files],
                         ignore_index=True)
        mine = mine[sorted(mine.columns)]
        if name not in oracles:
            status[name] = "no oracle"
            continue
        try:
            ref = expected(oracles[name], sf_dir, cache_dir)
        except Exception as e:
            status[name] = f"oracle error: {e}"
            continue
        ref = ref[sorted(ref.columns)]
        if list(mine.columns) != list(ref.columns):
            status[name] = f"columns {list(mine.columns)} != {list(ref.columns)}"
        elif len(mine) != len(ref):
            status[name] = f"rows {len(mine)} != {len(ref)}"
        else:
            bad = same_values(mine, ref)
            status[name] = f"values differ in {bad}" if bad else "ok"
    return status
