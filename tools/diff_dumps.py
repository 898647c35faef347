#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/diff_dumps.py <parent_out> <change_out> [only,names]

The "outputs unchanged" proof for a refactor: every query directory of
the first dump must hold exactly the rows of the same directory in the
second dump. Each pair is compared inside DuckDB as a two-sided EXCEPT
ALL after the type canon of compare_oracle_duck.py (imported, not
copied), so it covers the queries that have no DuckDB oracle
(the ROWS-ONLY ones) as strictly as the oracled ones. Float compare is
exact; NULLs pair up under set-op semantics.

Prints one line per differing query and a summary; exits 1 if any
query differs or is missing on either side.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare_oracle_duck import common_cast  # noqa: E402


def queries(outdir):
    return {os.path.basename(d) for d in glob.glob(f"{outdir}/*") if os.path.isdir(d)}


def load(con, table, d):
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        return None
    con.sql(f"CREATE OR REPLACE TEMP TABLE {table} AS FROM read_parquet({files!r})")
    return dict((r[0], r[1]) for r in con.sql(f"DESCRIBE {table}").fetchall())


def diff(con, a_dir, b_dir):
    """None when both dumps hold the same rows, else a reason."""
    ta, tb = load(con, "__a", a_dir), load(con, "__b", b_dir)
    if ta is None or tb is None:
        if ta is None and tb is None:
            return None
        present = "__b" if ta is None else "__a"
        n = con.sql(f"SELECT count(*) FROM {present}").fetchone()[0]
        return None if n == 0 else f"ROWS one side has no part files, the other {n} rows"
    if list(ta) != list(tb):
        return f"SCHEMA {list(ta)} vs {list(tb)}"
    sel_a, sel_b = [], []
    for c in ta:
        cast = common_cast(ta[c], tb[c])
        q = f'"{c}"'
        sel_a.append(f"CAST({q} AS {cast}) AS {q}" if cast else q)
        sel_b.append(f"CAST({q} AS {cast}) AS {q}" if cast else q)
    na = con.sql("SELECT count(*) FROM __a").fetchone()[0]
    nb = con.sql("SELECT count(*) FROM __b").fetchone()[0]
    if na != nb:
        return f"ROWS {na} vs {nb}"
    n = con.sql(f"""
        SELECT count(*) FROM (
          (SELECT {', '.join(sel_a)} FROM __a EXCEPT ALL SELECT {', '.join(sel_b)} FROM __b)
          UNION ALL
          (SELECT {', '.join(sel_b)} FROM __b EXCEPT ALL SELECT {', '.join(sel_a)} FROM __a))
    """).fetchone()[0]
    return None if n == 0 else f"VALUES {n} differing rows (two-sided EXCEPT ALL)"


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_out, b_out = sys.argv[1], sys.argv[2]
    names = queries(a_out) | queries(b_out)
    if len(sys.argv) > 3:
        names = set(sys.argv[3].split(","))
    con = duckdb.connect()
    differing = 0
    for name in sorted(names):
        a_dir, b_dir = f"{a_out}/{name}", f"{b_out}/{name}"
        missing = [d for d in (a_dir, b_dir) if not os.path.isdir(d)]
        reason = f"MISSING {', '.join(missing)}" if missing else diff(con, a_dir, b_dir)
        if reason is not None:
            differing += 1
            print(f"DIFF {name}  {reason}", flush=True)
    print(f"{differing} of {len(names)} queries differ")
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
