"""Seeded input generator for the graft benchmark.

The base tables in perfbench/base are the engine's sf0.01 test tables. A
seed picks a deterministic variant: seed 0 copies them byte for byte, and
any other seed writes every table with its rows in a seeded permutation.
Permuting rows keeps every key, value and planted fixture, so each
catalog entry's oracle and `require` guards hold on every variant, while
file layout, split contents and hash-partition arrival order change.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MANIFEST = "inputs.json"


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(seed, dest):
    """Write the variant for `seed` into `dest` (created if absent) and
    return its manifest: rows, bytes and sha256 per table."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    os.makedirs(dest, exist_ok=True)
    tables = {}
    for i, name in enumerate(TABLES):
        src = os.path.join(BASE, f"{name}.parquet")
        dst = os.path.join(dest, f"{name}.parquet")
        if seed == 0:
            shutil.copyfile(src, dst)
        else:
            table = pq.read_table(src)
            # one stream per (seed, table): tables permute independently
            rng = np.random.default_rng([seed, i])
            pq.write_table(table.take(rng.permutation(table.num_rows)), dst)
        # every variant holds the base table's rows: its contents are
        # identified by the base file
        tables[name] = {"rows": pq.ParquetFile(dst).metadata.num_rows,
                        "bytes": os.path.getsize(dst), "sha256": _sha256(dst),
                        "content_sha256": _sha256(src)}
    manifest = {"seed": seed, "tables": tables}
    with open(os.path.join(dest, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def ensure(seed, dest):
    """The variant for `seed` in `dest`, generated unless already complete."""
    path = os.path.join(dest, MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            manifest = json.load(f)
        if manifest.get("seed") == seed and all(
                os.path.exists(os.path.join(dest, f"{t}.parquet")) for t in TABLES):
            return manifest
    return generate(seed, dest)
