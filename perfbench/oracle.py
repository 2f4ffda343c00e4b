"""DuckDB oracle check of the ad-hoc battery entries' results, compared
the way the repository's oracle check does: both sides fetched through
pandas, columns sorted by name, rows sorted, values compared as
strings."""
import glob
import json
import os

import duckdb
import numpy as np


def _norm(v):
    return "\0NULL" if v is None else str(v)


def _fetch(con, sql):
    df = con.execute(sql).df()
    return [tuple(r) for r in df.itertuples(index=False, name=None)], \
        list(df.columns)


def _canon(rows, cols):
    perm = [cols.index(c) for c in sorted(cols)]
    return sorted(tuple(_norm(r[i]) for i in perm) for r in rows)


def check(results, data):
    """Returns one line per mismatch; empty when every entry matches."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got, gcols = _fetch(
                con, f"SELECT * FROM '{os.path.join(results, name)}/*.parquet'")
            exp, ecols = _fetch(con, sql)
        except Exception as e:  # a failing query is a failed check
            bad.append(f"{name}: {e}")
            continue
        if any(isinstance(v, (list, tuple, bytes, np.ndarray))
               for r in got[:1] for v in r):
            bad.append(f"{name}: unsortable column values")
        elif sorted(gcols) != sorted(ecols):
            bad.append(f"{name}: columns {sorted(gcols)} != {sorted(ecols)}")
        elif _canon(got, gcols) != _canon(exp, ecols):
            bad.append(f"{name}: values differ ({len(got)} vs {len(exp)} rows)")
    return bad
