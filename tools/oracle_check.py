#!/usr/bin/env python3
"""Compare a `graft.Verify` dump against its DuckDB oracles.

Usage:
    python3 tools/oracle_check.py <sfDir> <verifyOutDir> [nameRegex]

`graft.Verify <sfDir> <verifyOutDir>` writes one parquet directory per
registry query plus `oracle_sql.json` (query name -> DuckDB SQL). This
script registers every `<sfDir>/<table>.parquet` as a DuckDB view named
`<table>`, runs each oracle SQL, canonicalizes both frames (columns sorted
by name, rows sorted) and diffs them. Floating-point values compare with a
relative tolerance of 1e-6; everything else compares exactly.

Queries in ROWS_ONLY have no exact oracle (an approximate sketch whose
exact siblings are oracle-checked in full): their dump must exist and have
rows. Any other dump without an oracle, or oracle without a dump, fails.
Prints one line per query and `FAILS: <n>` last; exits non-zero when
anything fails.
"""

import datetime
import decimal
import glob
import json
import math
import os
import re
import sys

import duckdb
import numpy as np

# v_drift_sketch: KLL sketch approximation, bracketed in full by
# v_drift_exact and v_drift_sketch_bound.
ROWS_ONLY = {"v_drift_sketch"}

REL_TOL = 1e-6
ABS_TOL = 1e-9


def norm(v):
    """A hashable, comparable form of one cell."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in sorted(v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    try:
        if v != v:  # pandas NA / NaT
            return None
    except (TypeError, ValueError):
        pass
    return v


def sort_key(v):
    """Total order over normalized cells (None first, numbers by value)."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (2, round(float(v), 6))
    if isinstance(v, tuple):
        return (3, tuple(sort_key(x) for x in v))
    return (4, str(type(v).__name__), v)


def same(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and \
            not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(float(a), float(b),
                            rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def canonical(con, relation_sql):
    df = con.execute(relation_sql).df()
    cols = sorted(df.columns)
    rows = [tuple(norm(r[c]) for c in cols)
            for r in df[cols].to_dict("records")]
    rows.sort(key=lambda r: tuple(sort_key(x) for x in r))
    return cols, rows


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def check(con, name, sql, out_dir):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return "MISSING", "no Spark output"
    got_cols, got = canonical(
        con, "SELECT * FROM read_parquet([%s])"
        % ", ".join(sql_str(f) for f in sorted(files)))
    if sql is None:
        if name in ROWS_ONLY and got:
            return "OK", f"rows-only, no exact oracle ({len(got)} rows)"
        return "FAIL", f"no oracle SQL ({len(got)} rows)"
    want_cols, want = canonical(con, sql)
    if got_cols != want_cols:
        return "FAIL", f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return "FAIL", f"rows {len(got)} != oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not same(g, w):
            return "FAIL", f"row {i}: {g} != oracle {w}"
    return "OK", f"{len(got)} rows"


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    sf_dir, out_dir = argv[1], argv[2]
    pattern = re.compile(argv[3] if len(argv) == 4 else ".*")
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {table} AS "
                    f"SELECT * FROM read_parquet({sql_str(src)})")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    dumps = {d for d in os.listdir(out_dir)
             if os.path.isdir(os.path.join(out_dir, d))}
    fails = 0
    for name in sorted(dumps | set(oracles)):
        if not pattern.fullmatch(name):
            continue
        try:
            status, note = check(con, name, oracles.get(name), out_dir)
        except Exception as e:  # a broken oracle or dump is a failure
            status, note = "FAIL", f"{type(e).__name__}: {e}"
        if status != "OK":
            fails += 1
        print(f"{status:7} {name}: {note}")
    print(f"FAILS: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
