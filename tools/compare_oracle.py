#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sfdir> <verify_out_dir>

Loads each <name>/ parquet result written by graft.Verify, runs the
corresponding oracle SQL (from oracle_sql.json) in DuckDB over views of
the sf tables, and compares: columns sorted by name, rows sorted by all
columns, values compared exactly (floats via repr after float64 cast).
"""
import json, sys, glob, math, os
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def verdict(con, sql: str, result_dir: str) -> str:
    """'OK', or what differs between a Verify result dir and its oracle."""
    if not os.path.isdir(result_dir):
        return "MISSING result dir (query threw during Verify?)"
    try:
        got = pd.read_parquet(result_dir)
        want = con.sql(sql).df()
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            return f"SCHEMA got={list(g.columns)} want={list(w.columns)}"
        # the driver's hash is dtype-sensitive: a DuckDB HUGEINT sum
        # lands as float64 and fails against Spark's int64 even when
        # values match object-wise (see e25 in VERDICT round 4) —
        # mirror that by comparing dtype *kinds* pre-value-compare
        kinds = [(c, got[c].dtype.kind, want[c].dtype.kind)
                 for c in g.columns
                 if got[c].dtype.kind != want[c].dtype.kind
                 and {got[c].dtype.kind, want[c].dtype.kind} <= {"i", "u", "f"}]
        if kinds:
            return f"DTYPE {kinds} (driver hash would fail)"
        if len(g) != len(w):
            return f"ROWS got={len(g)} want={len(w)}"
        for c in g.columns:
            a, b = g[c], w[c]
            if pd.api.types.is_float_dtype(a):
                eq = (a.isna() & b.isna()) | (a == b)
            else:
                eq = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
            if not eq.all():
                i = int(np.argmin(eq.values))
                return f"VALUES col={c} row={i} got={a.iloc[i]!r} want={b.iloc[i]!r}"
        return "OK"
    except Exception as ex:
        return f"ERROR {str(ex)[:200]}"


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    # optional 3rd arg: comma-separated query subset, matching a targeted
    # graft.Verify run. Without it, a missing result dir is a FAILURE —
    # it means the query threw during Verify and must not read as green.
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sfdir}/{t}.parquet"
        # Spark-written tables (ScaleGen output) are directories of part
        # files, and their events.ts is a raw nanos-since-epoch BIGINT
        # (the shape Spark reads via nanosAsLong) — glob the parts and
        # restore the timestamp type for the oracle SQL.
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.sql(f"CREATE VIEW __raw_{t} AS FROM {src}")
        cols = {r[0]: r[1] for r in con.sql(f"DESCRIBE __raw_{t}").fetchall()}
        if t == "events" and cols.get("ts") == "BIGINT":
            # ns -> us truncation, exactly Spark's `ts div 1000` narrowing
            con.sql(f"""CREATE VIEW {t} AS
                SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM __raw_{t}""")
        else:
            con.sql(f"CREATE VIEW {t} AS FROM __raw_{t}")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    # each verdict prints as its query finishes: a full compare runs for
    # ~25 min, and a hung query must be told from a slow one while it runs
    for name in sorted(oracle):
        if only is not None and name not in only:
            continue
        v = verdict(con, oracle[name], f"{outdir}/{name}")
        results[name] = v
        print(f"{'PASS' if v == 'OK' else 'FAIL'} {name}" + ("" if v == "OK" else f"  {v}"),
              flush=True)
    npass = sum(1 for v in results.values() if v == "OK")
    print(f"\n{npass}/{len(results)} oracle queries match")
    # rows-only queries (no oracle): report row counts
    rows_only = set()
    for d in sorted(glob.glob(f"{outdir}/*")):
        name = os.path.basename(d)
        if os.path.isdir(d) and name not in oracle:
            rows_only.add(name)
            n = len(pd.read_parquet(d))
            print(f"ROWS-ONLY {name}: {n} rows", flush=True)
    # merge oracle verdicts into Verify's per-query summary artifact so
    # an empty driver CORRECTNESS_r*.json stays reconstructable from the
    # repo side (rounds 9/10 both shipped one): match = true/false for
    # oracled queries, "rows-only" for the designed approximation set.
    spath = f"{outdir}/VERIFY_SUMMARY.json"
    if os.path.exists(spath):
        summary = json.load(open(spath))
        for name, entry in summary.items():
            if name in results:
                entry["match"] = results[name] == "OK"
                if results[name] != "OK":
                    entry["detail"] = results[name]
            elif name in rows_only:
                entry["match"] = "rows-only"
        json.dump(summary, open(spath, "w"), indent=0, sort_keys=True)
        # refresh the repo-local copy only when this compare covered the
        # full surface (a targeted subset must not shrink the artifact).
        # Written UNCONDITIONALLY on full runs (round-11 advice: the old
        # exists() precondition silently skipped the first-ever write),
        # to a path anchored on this script's repo, not the cwd.
        if only is None:
            repo_copy = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "VERIFY_SUMMARY.json")
            json.dump(summary, open(repo_copy, "w"), indent=0, sort_keys=True)
    # One-line machine-readable verdict as the LAST stdout line (round-11
    # verdict item: the driver's bounded tail capture lost three rounds of
    # CORRECTNESS_r*.json; the Bench total_only line is the precedent).
    fails = sorted(n for n, v in results.items() if v != "OK")
    print(json.dumps({
        "metric": "oracle_compare",
        "n_match": npass,
        "n_total": len(results),
        "rows_only": sorted(rows_only),
        "fails": fails,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
