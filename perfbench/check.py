"""Output checks of the pipeline benchmark, run after the benchmark JVM exits.

Every check reads the parquet the stages wrote and recomputes the
expected result with DuckDB (or numpy), so the engine never checks
itself:

- oracle: stages that mirror a `graft.SparkEntry` query are compared
  with that query's DuckDB SQL (`SparkEntry.oracleSql`), its tables
  bound to the stage's real inputs;
- contract: every other stage is compared with a recomputation of its
  stated contract (a resumed landing equals the one-shot feed, a
  keep-latest dedup equals a window recompute, a layout rewrite keeps
  content, ...);
- digest: every later pass must reproduce the first pass's outputs.

A stage call fails if it threw, if its first-pass output failed its
check, or if its output digest differs from the first pass.
"""
import glob
import os

import duckdb
import numpy as np

FLOAT_TOL = 1e-9
ANN_QUERIES, ANN_K = 50, 10  # Workloads.annQueries / annK
ANN_RECALL_FLOOR = 0.3

# stage -> outputs it writes, relative to the pass directory
OUTPUTS = {
    "forecast_dag": {
        "land_crash": [], "land_resume": ["landing"], "load_landed": ["landed"],
        "typed_ingest": ["typed"], "dedup_keep_latest": ["clean"],
        "quality_report": ["quality_report"], "resample_hourly": ["hourly"],
        "ridge_lag_forecast": ["coefs"], "apply_coefficients": ["predictions"],
        "forecast_metrics": ["metrics"], "sorted_layout": ["pub/predictions"],
        "compact": ["hourly_compact"], "row_count": [], "pruned_read": ["predictions_window"],
        "stream_upsert": ["latest_reading"], "user_funnel": ["funnel"],
    },
    "corpus_curation": {
        "quality_score": ["quality"], "minhash_lsh_pairs": ["pairs"],
        "keep_canonical": ["canonical"], "group_cap_sample": ["capped"],
        "binary_meta": ["binary"], "lsh_ann_topk": ["ann_lsh"],
    },
}
# untimed reference calls (run once, after the first pass) -> output
REFERENCES = {"bruteforce_topk": "ref_bruteforce", "lsh_recall": "ref_lsh_recall"}


def _files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
                  if "/_" not in f[len(path):] and "/." not in f[len(path):])


def _scan(path):
    files = _files(path)
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    lst = "[" + ",".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
    return f"read_parquet({lst}, hive_partitioning = true, union_by_name = true)"


class Ctx:
    def __init__(self, workload, work, res):
        self.workload = workload
        self.work = work
        self.data = os.path.join(work, "data")
        self.res = res
        self.con = duckdb.connect()
        self.con.sql("SET threads = 2")
        self.con.sql("SET memory_limit = '1GB'")

    def path(self, rel, p=0):
        if rel.startswith("in:"):
            return os.path.join(self.data, rel[3:])
        return os.path.join(self.res["passes"][p]["dir"], rel)

    def view(self, name, rel):
        self.con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {_scan(self.path(rel))}")

    def frame(self, sql):
        return self.con.sql(sql).df()


def _prep(df):
    """Columns by name; nested values, bytes and tz-aware times made
    comparable as plain scalars."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime64") and getattr(col.dt, "tz", None) is not None:
            df[c] = col.dt.tz_localize(None)
        elif col.dtype == object:
            df[c] = col.map(_scalar)
    return df


def _scalar(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return repr([_scalar(x) for x in v])
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (float, np.floating)):
        return round(float(v), 9)
    if isinstance(v, dict):
        return repr(sorted((k, _scalar(x)) for k, x in v.items()))
    return v


def same(got, want, what):
    """Compare two result frames as multisets of rows; '' if equal.
    Floats compare to a relative 1e-9, everything else exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{what}: {len(got)} rows, expected {len(want)}"
    g, w = _prep(got), _prep(want)
    cols = list(g.columns)
    for c in cols:
        if g[c].dtype.kind in "iufb" and w[c].dtype.kind in "iufb":
            g[c] = g[c].astype("float64")
            w[c] = w[c].astype("float64")
    g = g.sort_values(cols, na_position="last", kind="mergesort").reset_index(drop=True)
    w = w.sort_values(cols, na_position="last", kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            ok = np.isclose(a.to_numpy(), b.to_numpy(), rtol=FLOAT_TOL, atol=FLOAT_TOL,
                            equal_nan=True)
        else:
            ok = (a.isna() & b.isna()).to_numpy() | (a.astype(str) == b.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{what}: column {c} row {i}: {a.iloc[i]!r} != expected {b.iloc[i]!r}"
    return ""


def digest(ctx, rel, p):
    src = _scan(ctx.path(rel, p))
    cols = [r[0] for r in ctx.con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    keep = ", ".join(f'"{c}"' for c in sorted(cols))
    n, h = ctx.con.sql(f"SELECT count(*), sum(hash(struct_pack({keep}))::HUGEINT) "
                       f"FROM (SELECT {keep} FROM {src})").fetchone()
    return (n, str(h))


# ---------------------------------------------------------------- oracles

def check_oracle(ctx, o):
    for name, rel in o["tables"].items():
        ctx.view(name, rel)
    want = ctx.frame(o["sql"])
    got_rel = REFERENCES.get(o["stage"]) or OUTPUTS[ctx.workload][o["stage"]][0]
    got = ctx.frame(f"SELECT * FROM {_scan(ctx.path(got_rel))}")
    return same(got, want, f"{o['stage']} vs oracle {o['query']}")


# -------------------------------------------------------------- contracts

def forecast_contracts(ctx, values):
    ev = _scan(ctx.path("in:events.parquet"))
    out = {}

    def tbl(rel):
        return ctx.frame(f"SELECT * FROM {_scan(ctx.path(rel))}")
    raw = ctx.frame(f"SELECT * FROM {ev}")
    out["land_crash"] = out["land_resume"] = out["load_landed"] = same(
        tbl("landed"), raw, "resumed landing vs one-shot feed")
    out["dedup_keep_latest"] = same(tbl("clean"), ctx.frame(f"""
        SELECT event_id, date_trunc('second', ts) AS ts, user_id, event_type, value
        FROM {ev}
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type, date_trunc('second', ts)
                                   ORDER BY event_id DESC) = 1"""),
        "dedup_keep_latest vs keep-latest recompute")
    pred = _scan(ctx.path("predictions"))
    out["forecast_metrics"] = same(tbl("metrics"), ctx.frame(f"""
        SELECT user_id, count(*) AS n,
               round(sqrt(avg(pow(value - prediction, 2))), 4) AS rmse,
               round(avg(abs((value - prediction) / (value + 1e-8))) * 100, 4) AS mape
        FROM {pred} GROUP BY 1"""), "forecast_metrics vs recompute")
    predictions = tbl("predictions")
    out["sorted_layout"] = same(tbl("pub/predictions"), predictions,
                                "sorted layout keeps content")
    ranges = sorted(ctx.con.sql(f"""
        SELECT min(stats_min_value::BIGINT), max(stats_max_value::BIGINT)
        FROM parquet_metadata({_files_list(ctx.path('pub/predictions'))})
        WHERE path_in_schema = 'user_id' GROUP BY file_name""").fetchall())
    if any(a[1] >= b[0] for a, b in zip(ranges, ranges[1:])):
        out["sorted_layout"] = f"sorted layout: file key ranges overlap {ranges}"
    out["compact"] = same(tbl("hourly_compact"), tbl("hourly"), "compaction keeps content")
    out["row_count"] = "" if values.get("row_count") == str(len(predictions)) else \
        f"row_count {values.get('row_count')} != {len(predictions)}"
    lo, hi = int(values["window_lo"]), int(values["window_hi"])
    out["pruned_read"] = same(
        tbl("predictions_window"),
        predictions[(predictions["user_id"] >= lo) & (predictions["user_id"] < hi)],
        "pruned read vs filtered predictions")
    if int(values["pruned_files"]) >= len(ranges):
        out["pruned_read"] = f"pruned read opened {values['pruned_files']} of {len(ranges)} files"
    latest = tbl("latest_reading")
    out["stream_upsert"] = same(latest.drop(columns=["bucket"]), ctx.frame(f"""
        SELECT * FROM {_scan(ctx.path('in:events_stream'))}
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""),
        "stream upsert vs latest reading per series")
    return out


def _components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def corpus_contracts(ctx, values):
    out = {}
    pairs = ctx.con.sql(f"SELECT doc_a, doc_b FROM {_scan(ctx.path('pairs'))}").fetchall()
    comp = _components(pairs)
    docs = ctx.frame(f"SELECT doc_id, lang, source FROM {_scan(ctx.path('in:documents.parquet'))}")
    drop = {n for n, c in comp.items() if n != c}
    want = docs[~docs["doc_id"].isin(drop)]
    out["keep_canonical"] = same(ctx.frame(f"SELECT * FROM {_scan(ctx.path('canonical'))}"),
                                 want, "keep_canonical vs union-find")

    emb = ctx.frame(f"SELECT vec_id, embedding FROM {_scan(ctx.path('in:embeddings.parquet'))}")
    ids = emb["vec_id"].to_numpy()
    mat = np.stack([np.asarray(e, dtype=np.float64) for e in emb["embedding"]])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    pos = {int(i): n for n, i in enumerate(ids)}
    ann = ctx.frame(f"SELECT * FROM {_scan(ctx.path('ann_lsh'))}")
    queries = sorted(int(i) for i in ids if i < ANN_QUERIES)
    hits = 0
    err = ""
    exact_cos = {}
    for q in queries:
        cos = mat @ mat[pos[q]]
        cos[pos[q]] = -np.inf
        top = np.lexsort((ids, -cos))[:ANN_K]
        exact = {int(ids[i]) for i in top}
        exact_cos[q] = sorted(cos[top], reverse=True)
        rows = ann[ann["query_id"] == q]
        hits += len(exact & set(int(x) for x in rows["neighbor_id"]))
        ranks = sorted(int(r) for r in rows["rank"])
        if ranks != list(range(1, len(ranks) + 1)):
            err = f"lsh_ann_topk: query {q} ranks {ranks} not contiguous"
        for n, c in zip(rows["neighbor_id"], rows["cosine"]):
            if abs(cos[pos[int(n)]] - c) > 1e-4:
                err = f"lsh_ann_topk: query {q} neighbor {n} cosine {c} != {cos[pos[int(n)]]:.6f}"
    ctx.ann_recall = hits / (ANN_K * len(queries))
    if ctx.ann_recall < ANN_RECALL_FLOOR:
        err = f"lsh_ann_topk: recall@{ANN_K} {ctx.ann_recall:.3f} below {ANN_RECALL_FLOOR}"
    out["lsh_ann_topk"] = err

    # untimed references of the traced run
    ref = os.path.join(ctx.res["passes"][0]["dir"], "ref_bruteforce")
    if os.path.isdir(ref):
        bf = ctx.frame(f"SELECT * FROM {_scan(ref)}")
        out["bruteforce_topk"] = ""
        for q in queries:
            got = sorted(bf[bf["query_id"] == q]["cosine"].tolist(), reverse=True)
            if len(got) != ANN_K or any(abs(a - b) > 1e-4 for a, b in zip(got, exact_cos[q])):
                out["bruteforce_topk"] = f"bruteForceTopK query {q}: {got[:3]} != exact"
    rec = os.path.join(ctx.res["passes"][0]["dir"], "ref_lsh_recall")
    if os.path.isdir(rec):
        # NULL when the eval set holds no true near-dup pair
        recall = ctx.con.sql(f"SELECT coalesce(recall, 0) FROM {_scan(rec)}").fetchone()[0]
        ctx.dedup_recall = float(recall)
    return out


def _files_list(path):
    return "[" + ",".join("'" + f + "'" for f in _files(path)) + "]"


CONTRACTS = {"forecast_dag": forecast_contracts, "corpus_curation": corpus_contracts}


def _bytes_and_files(ctx, p):
    files = _files(ctx.res["passes"][p]["dir"])
    return sum(os.path.getsize(f) for f in files), len(files)


def run_checks(workload, work, res):
    ctx = Ctx(workload, work, res)
    msgs = []
    outputs = OUTPUTS[workload]
    values = res["passes"][0]["values"]
    bad = {}
    for o in res["oracles"]:
        try:
            bad[o["stage"]] = check_oracle(ctx, o)
        except Exception as e:  # a check that cannot run is a failed check
            bad[o["stage"]] = f"{o['stage']}: oracle check error {e}"
    try:
        bad.update(CONTRACTS[workload](ctx, values))
    except Exception as e:
        for s in outputs:
            bad.setdefault(s, f"{s}: contract check error {type(e).__name__}: {e}")
    for s in outputs:
        if s not in bad:
            bad[s] = f"{s}: no check defined"
    for ref in res["references"]:
        if not ref["ok"]:
            bad[ref["name"]] = f"reference {ref['name']} threw {ref.get('error', '')[:300]}"
    digests = {}
    attempted = failed = 0
    failed_by_layer = {}
    for p in res["passes"]:
        for st in p["stages"]:
            attempted += 1
            name = st["name"]
            why = ""
            if not st["ok"]:
                why = f"pass {p['pass']} {name} threw {st.get('error', '')[:300]}"
            elif outputs[name] or p["pass"] == 0:
                try:
                    d = tuple(digest(ctx, rel, p["pass"]) for rel in outputs[name])
                except Exception as e:
                    d = ("error", str(e))
                if p["pass"] == 0:
                    digests[name] = d
                    why = bad.get(name, "")[:500]
                elif d != digests.get(name):
                    why = f"pass {p['pass']} {name} output digest differs from pass 0"
                elif bad.get(name):
                    why = f"pass {p['pass']} {name} repeats the first pass's output, which failed its check"
            if why:
                failed += 1
                failed_by_layer[st["layer"]] = failed_by_layer.get(st["layer"], 0) + 1
                msgs.append(why)
    for ref in res["references"]:
        attempted += 1
        why = bad.get(ref["name"], "")
        if why:
            failed += 1
            failed_by_layer[ref["layer"]] = failed_by_layer.get(ref["layer"], 0) + 1
            msgs.append(why[:500])
    last = res["passes"][-1]["pass"]
    stored, nfiles = _bytes_and_files(ctx, last)
    out = {"attempted": attempted, "failed": failed, "failed_by_layer": failed_by_layer,
           "messages": msgs, "bytes_stored": stored, "files_written": nfiles}
    if hasattr(ctx, "ann_recall"):
        out["ann_recall"] = ctx.ann_recall
    if hasattr(ctx, "dedup_recall"):
        out["dedup_recall"] = ctx.dedup_recall
    return out
