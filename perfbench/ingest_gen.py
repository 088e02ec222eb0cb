#!/usr/bin/env python3
"""Input generator of the ingest workload.

Writes `copies` id-shifted copies of a documents table as feedstock
JSON-lines landing files (one record per line, the `FeedstockSource`
schema: an `mdf` block and a `record` block). The seed sets which file
each (copy, document) lands in and its position there; the copy and
file counts are parameters. Copy c of document d gets doc_id
d + c * SHIFT. graft receives only the files.

`expected_ids` gives the expected shard contents: the ids of every copy
of the documents that the gate keeps.

    python3 perfbench/ingest_gen.py <sfDir> <outDir> --seed N --copies K --files F
"""
import argparse
import json
import os
import random
import shutil

import duckdb

SHIFT = 100_000_000


def generate(sf_dir, out_dir, seed, copies, files):
    rows = duckdb.sql(f"SELECT doc_id, text, lang, source FROM '{sf_dir}/documents.parquet' "
                      "ORDER BY doc_id").fetchall()
    recs = [(c, r) for c in range(copies) for r in rows]
    random.Random(seed).shuffle(recs)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    per = -(-len(recs) // files)
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f:05d}.jsonl"), "w", encoding="utf-8") as fh:
            for c, (doc_id, text, lang, source) in recs[f * per:(f + 1) * per]:
                fh.write(json.dumps({
                    "mdf": {"source_id": f"{source}_v1.{c + 1}", "source_name": source,
                            "version": 1, "resource_type": "record"},
                    "record": {"doc_id": doc_id + c * SHIFT, "text": text, "lang": lang,
                               "source": source}}, ensure_ascii=False))
                fh.write("\n")
            # on disk before the timed passes start, not flushed during them
            fh.flush()
            os.fsync(fh.fileno())
    return len(recs)


def expected_ids(keep, copies):
    """Shard contents expected from the gate's keep set (original ids)."""
    return sorted(i + c * SHIFT for c in range(copies) for i in keep)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--copies", type=int, default=4)
    ap.add_argument("--files", type=int, default=64)
    a = ap.parse_args()
    n = generate(a.sf_dir, a.out_dir, a.seed, a.copies, a.files)
    print(f"wrote {n} records into {a.files} files under {a.out_dir}")
