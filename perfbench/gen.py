"""Seeded input generator for the pipeline benchmark.

The base tables under `base/` are a fixed sample of the engine's test
corpus (see `make_base.py`). A seed picks one decorrelated replica of them, the
scheme of `graft.ScaleGen`:

- documents: every word not in the protected set (stopwords and the
  language markers the quality/lang operators score) goes through a
  seeded letter permutation. The map is a bijection on words, so
  near-dup clusters, shingle structure, word counts, lengths and
  stopword ratios are the same in every replica while the text of two
  replicas shares almost no shingles.
- embeddings: each vector is multiplied by a seeded +-1 diagonal, which
  keeps every within-replica dot product exact.
- event and series ids shift by the replica number times a constant.

Only generated parquet is ever handed to the engine.
"""
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIFT = 10_000_000
LOWER = "abcdefghijklmnopqrstuvwxyz"
PROTECTED = set(
    "the a an and of to in is it for on with "
    "der die das und ist nicht ein zu "
    "le la les et est pas un une de du "
    "el los las y es no una por que "
    "lorem ipsum".split())
HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")


def _replica(seed):
    # never the identity replica: every seed runs on ciphered data
    return 1 + (seed % 997)


def _cipher(r):
    rng = random.Random(0x5EED0000 + r)
    perm = list(LOWER)
    rng.shuffle(perm)
    p = "".join(perm)
    return str.maketrans(LOWER + LOWER.upper(), p + p.upper())


def _cipher_text(text, table):
    if text is None:
        return None
    return re.sub(r"[A-Za-z]+",
                  lambda m: m.group(0) if m.group(0).lower() in PROTECTED
                  else m.group(0).translate(table), text)


def _shift(t, cols, r):
    for c in cols:
        i = t.schema.get_field_index(c)
        t = t.set_column(i, c, pc.add(t[c], pa.scalar(r * SHIFT, t.schema.field(c).type)))
    return t


def _write(t, path):
    pq.write_table(t, path, row_group_size=1 << 20)


def _events(r, out):
    t = pq.read_table(os.path.join(BASE, "events.parquet"))
    # an at-least-once feed re-sends readings: every 50th event arrives a
    # second time under a later id with a corrected value, which the
    # DAG's keep-latest dedup must resolve
    resent = t.filter(pa.array(t["event_id"].to_numpy() % 50 == 7))
    resent = resent.set_column(0, "event_id", pc.add(resent["event_id"], 5_000_000))
    resent = resent.set_column(resent.schema.get_field_index("value"), "value",
                               pc.add(resent["value"], 1.0))
    t = _shift(pa.concat_tables([t, resent]), ["event_id", "user_id"], r)
    _write(t, os.path.join(out, "events.parquet"))
    # the same readings as a stream of two files, for the serving table
    stream = os.path.join(out, "events_stream")
    os.makedirs(stream)
    half = t.num_rows // 2
    _write(t.slice(0, half), os.path.join(stream, "part-0.parquet"))
    _write(t.slice(half), os.path.join(stream, "part-1.parquet"))


def _documents(r, out):
    t = pq.read_table(os.path.join(BASE, "documents.parquet"))
    table = _cipher(r)
    text = pa.array([_cipher_text(s, table) for s in t["text"].to_pylist()], pa.string())
    t = t.set_column(t.schema.get_field_index("text"), "text", text)
    _write(t, os.path.join(out, "documents.parquet"))


def _embeddings(r, out):
    t = pq.read_table(os.path.join(BASE, "embeddings.parquet"))
    emb = t["embedding"].combine_chunks()
    dim = len(emb[0])
    signs = np.random.default_rng(0xE3B0 + r).choice(
        np.array([-1.0, 1.0], dtype=np.float32), size=dim)
    flat = emb.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim) * signs
    vecs = pa.ListArray.from_arrays(emb.offsets, pa.array(flat.reshape(-1), pa.float32()))
    t = t.set_column(t.schema.get_field_index("embedding"), "embedding", vecs)
    _write(t, os.path.join(out, "embeddings.parquet"))


WORKLOAD_TABLES = {
    "forecast_dag": ["events.parquet", "events_stream"],
    "corpus_curation": ["documents.parquet", "embeddings.parquet"],
}


def _size(path):
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    return os.path.getsize(path)


def _rows(path):
    if os.path.isdir(path):
        return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                   for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into `out`; return a
    manifest of the replica, rows and bytes per input."""
    os.makedirs(out)
    r = _replica(seed)
    if workload == "forecast_dag":
        _events(r, out)
    elif workload == "corpus_curation":
        _documents(r, out)
        _embeddings(r, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    inputs = {t: {"rows": _rows(os.path.join(out, t)), "bytes": _size(os.path.join(out, t))}
              for t in WORKLOAD_TABLES[workload]}
    manifest = {"seed": seed, "replica": r, "shift": r * SHIFT, "inputs": inputs,
                "input_bytes": sum(v["bytes"] for v in inputs.values())}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
