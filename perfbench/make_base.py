"""Rebuild the benchmark's base sample from the engine's test corpus.

    python3 perfbench/make_base.py <sf0.1-dir> <sf0.01-dir>

`base/` holds the only data the benchmark reads; `gen.py` derives every
seeded input from it. The sample is: the sf0.1 events of every fourth
series (375 series, 30 days), the first 1,000 sf0.1 embeddings, and the
sf0.01 documents, a 500-document corpus that keeps its own near-duplicate
clusters (a doc-id prefix of the larger corpus keeps almost none).
"""
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    big, small = sys.argv[1], sys.argv[2]
    out = os.path.join(HERE, "base")
    os.makedirs(out, exist_ok=True)
    ev = pq.read_table(os.path.join(big, "events.parquet"))
    pq.write_table(ev.filter(pc.equal(pc.bit_wise_and(ev["user_id"], 3), 0)),
                   os.path.join(out, "events.parquet"))
    emb = pq.read_table(os.path.join(big, "embeddings.parquet"))
    pq.write_table(emb.filter(pc.less(emb["vec_id"], 1000)), os.path.join(out, "embeddings.parquet"))
    shutil.copyfile(os.path.join(small, "documents.parquet"), os.path.join(out, "documents.parquet"))


if __name__ == "__main__":
    main()
