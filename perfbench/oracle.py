"""DuckDB oracle comparison, with scripts/check.py's rules: the same column
names (sorted), the same row count, and the same rows after sorting, with
check.py's value normalization; values compare exactly."""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))
from check import TABLES, norm  # noqa: E402


def rows(df):
    return sorted((tuple(norm(v) for v in r) for r in df.itertuples(index=False)), key=repr)


def check(corpus, out_dir, checks):
    """Returns {query name: reason} for every query whose output is wrong."""
    wrong = {}
    if not checks:
        return wrong
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    for c in checks:
        name = c["item"]
        if not c["ok"]:
            wrong[name] = f"check run failed: {c['reason']}"
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            want = con.execute(c["oracle"]).fetchdf()
            got = (con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
                   if files else None)
        except Exception as e:  # noqa: BLE001 - any DuckDB error is a failed check
            wrong[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if got is None:
            wrong[name] = "no result files"
            continue
        wc, gc = sorted(want.columns), sorted(got.columns)
        if wc != gc:
            wrong[name] = f"schema spark={gc} oracle={wc}"
        elif len(want) != len(got):
            wrong[name] = f"rowcount spark={len(got)} oracle={len(want)}"
        elif rows(want[wc]) != rows(got[gc]):
            wrong[name] = "value mismatch"
    con.close()
    return wrong
