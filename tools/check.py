#!/usr/bin/env python3
"""Oracle check of Verify output against DuckDB, and a two-run compare.

Oracle mode: run graft.Verify output against DuckDB oracle SQL and
compare per-query results (columns sorted by name, rows sorted, values
stringified and compared exactly).

    python3 tools/check.py <sfdir> <outdir> [name-regex]

Without a regex every oracle entry is compared and a missing output is
a failure. With a regex only the matching entries whose output exists
are compared (for a Verify run with SPARK_GRAFT_ONLY).

Diff mode: compare two Verify output dirs entry by entry, rows-only
entries included, under the same canonical form, and check that their
oracle_sql.json files are identical.

    python3 tools/check.py --diff <outdir_a> <outdir_b> [name-regex]

Both modes print one line per entry and exit nonzero on any mismatch.
(Run `sbt "runMain graft.Verify <sfdir> <outdir>"` first.)
"""
import sys, json, glob, os, re
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify to dodge dtype mismatches (int32 vs int64 etc.)
    df = df.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def read_output(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame, la: str, lb: str) -> bool:
    """Prints ok/FAIL for one entry; `la`/`lb` label the two sides."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
    elif len(a) != len(b):
        print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
    elif not a.equals(b):
        neq = (a != b).any(axis=1)
        print(f"FAIL {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
        idx = neq.idxmax()
        print(f"  {la}:", a.loc[idx].to_dict())
        print(f"  {lb}:", b.loc[idx].to_dict())
    else:
        print(f"ok   {name} ({len(a)} rows)")
        return True
    return False


def entries(outdir: str) -> set:
    return {os.path.basename(p) for p in glob.glob(f"{outdir}/*") if os.path.isdir(p)}


def oracle_check(sfdir: str, outdir: str, pat) -> tuple:
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in sorted(oracle):
        path = f"{outdir}/{name}"
        if pat and not (pat.search(name) and os.path.isdir(path)):
            continue
        if not os.path.isdir(path):
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            ok = compare(name, read_output(path), con.execute(oracle[name]).fetchdf(),
                         "spark", "duck ")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            ok = False
        n_ok, n_bad = n_ok + ok, n_bad + (not ok)
    return n_ok, n_bad


def diff_check(dir_a: str, dir_b: str, pat) -> tuple:
    n_ok = n_bad = 0
    oa, ob = (json.load(open(f"{d}/oracle_sql.json")) for d in (dir_a, dir_b))
    if oa != ob:
        changed = sorted(k for k in set(oa) | set(ob) if oa.get(k) != ob.get(k))
        print(f"FAIL oracle_sql.json differs: {changed[:10]}")
        n_bad += 1
    for name in sorted(entries(dir_a) | entries(dir_b)):
        if pat and not pat.search(name):
            continue
        pa, pb = f"{dir_a}/{name}", f"{dir_b}/{name}"
        if not (os.path.isdir(pa) and os.path.isdir(pb)):
            print(f"FAIL {name}: output only in {pa if os.path.isdir(pa) else pb}")
            n_bad += 1
            continue
        try:
            ok = compare(name, read_output(pa), read_output(pb), "a", "b")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            ok = False
        n_ok, n_bad = n_ok + ok, n_bad + (not ok)
    return n_ok, n_bad


def main(argv: list) -> int:
    """`argv` without the program name."""
    check = diff_check if argv[:1] == ["--diff"] else oracle_check
    args = argv[1:] if check is diff_check else argv
    if len(args) not in (2, 3):
        print(__doc__)
        return 2
    pat = re.compile(args[2]) if len(args) > 2 else None
    n_ok, n_bad = check(args[0], args[1], pat)
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
