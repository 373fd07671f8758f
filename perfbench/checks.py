"""Output checks, one per workload. Each returns a list of failure
messages; an empty list means the run's outputs are correct."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values stringified, rows sorted: the
    repository's oracle comparison (tools/check.py)."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same_but_ties(a: pd.DataFrame, b: pd.DataFrame, float_cols) -> bool:
    """True when a and b differ only in float columns, by at most one
    cent: a sum rounded to 2 decimals whose exact value ends in 5 at the
    third decimal rounds either way depending on summation order."""
    for c in a.columns:
        if c in float_cols:
            x, y = a[c].astype(float).to_numpy(), b[c].astype(float).to_numpy()
            if not np.all(np.abs(x - y) <= 0.01 + 1e-9 * np.abs(y)):
                return False
        elif not a[c].equals(b[c]):
            return False
    return True


def analytics(tables: str, dump: str):
    """The first pass's results against each entry's DuckDB oracle."""
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = json.load(open(f"{dump}/oracle_sql.json"))
    bad = []
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{dump}/{name}/*.parquet"))
        if not files:
            bad.append(f"{name}: no output")
            continue
        raw = pd.concat([pd.read_parquet(f) for f in files])
        floats = {c for c in raw.columns if raw[c].dtype.kind == "f"}
        a = _canon(raw)
        b = _canon(con.execute(oracle[name]).fetchdf())
        if list(a.columns) != list(b.columns):
            bad.append(f"{name}: columns {list(a.columns)} vs {list(b.columns)}")
        elif len(a) == 0:
            bad.append(f"{name}: empty result")
        elif len(a) != len(b) or not (a.equals(b) or _same_but_ties(a, b, floats)):
            bad.append(f"{name}: {len(a)} rows differ from the oracle's {len(b)}")
    return bad


def lloyd(xy, init, tol=1e-3, max_iter=20):
    """Single-threaded Lloyd with the engine's rules: squared distance
    spelled (x-cx)*(x-cx)+(y-cy)*(y-cy), ties to the lowest centroid
    index, empty clusters keep their centroid, stop when every centroid
    moved less than tol on both axes or after max_iter iterations."""
    x, y = xy[:, 0], xy[:, 1]
    c = np.array(init, dtype=np.float64)
    k = len(c)
    for it in range(1, max_iter + 1):
        d = np.stack([(x - cx) * (x - cx) + (y - cy) * (y - cy) for cx, cy in c], axis=1)
        a = d.argmin(axis=1)
        n = np.bincount(a, minlength=k)
        sx = np.bincount(a, weights=x, minlength=k)
        sy = np.bincount(a, weights=y, minlength=k)
        nxt = c.copy()
        nxt[n > 0, 0] = sx[n > 0] / n[n > 0]
        nxt[n > 0, 1] = sy[n > 0] / n[n > 0]
        done = bool(np.all(np.abs(nxt - c) < tol))
        c = nxt
        if done:
            return c, it
    return c, max_iter


def kmeans(points_path: str, ops):
    """Every job's centroids and iteration count against the reference
    Lloyd from the same initial centroids, which must be input points."""
    xy = pd.read_csv(points_path, header=None, dtype=np.float64).to_numpy()
    bad = []
    for op in ops:
        info = op["info"]
        init = np.array(info["init"], dtype=np.float64)
        if len(init) != 8 or not all((xy == p).all(axis=1).any() for p in init):
            bad.append(f"op {op['id']}: initial centroids are not 8 input points")
            continue
        ref, iters = lloyd(xy, init)
        got = np.array(info["centroids"], dtype=np.float64)
        if iters != info["iters"]:
            bad.append(f"op {op['id']}: {info['iters']} iterations, reference {iters}")
        elif not np.allclose(got, ref, rtol=0, atol=1e-6):
            bad.append(f"op {op['id']}: centroids differ from the reference by "
                       f"{np.abs(got - ref).max():.3g}")
    return bad


def curate(out_dir: str, ops, clusters, input_key: str, counts_path: str):
    """Exactly one survivor per planted near-duplicate cluster (all of
    its members pass the filters), and one curated count for every job
    of the run and every run of the seed."""
    bad = []
    counts = {op["info"]["curated"] for op in ops}
    if len(counts) != 1:
        return [f"curated counts differ between jobs: {sorted(counts)}"]
    count = counts.pop()
    ids = set(pq.read_table(out_dir, columns=["doc_id"]).column(0).to_pylist())
    if len(ids) != count:
        bad.append(f"output holds {len(ids)} distinct docs, job reported {count}")
    for c in clusters:
        alive = [i for i in c if i in ids]
        if len(alive) != 1:
            bad.append(f"planted cluster {c}: survivors {alive}, expected one")
    known = json.load(open(counts_path)) if os.path.exists(counts_path) else {}
    prev = known.setdefault(input_key, count)
    if prev != count:
        bad.append(f"curated {count} docs; an earlier run on input {input_key} curated {prev}")
    with open(counts_path, "w") as f:
        json.dump(known, f)
    return bad
