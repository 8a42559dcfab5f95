"""Seeded benchmark inputs.

`perfbench/data` holds the sf0.1 `events`, `documents` and `embeddings`
tables. A seed permutes the row order of each table and writes it into the
benchmark's own input directory, still one file with one row group, so the
library's split-count decisions (`Tables.spread`) are the same on every
seed. Content never changes, which is why oracle answers are cached by
content rather than by seed.
"""
import glob
import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data")
TABLES = ("events", "documents", "embeddings")


def content_digest():
    """Digest of the source tables; identical for every seed."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def prepare(seed, root):
    """Write the inputs of `seed` under `root`; return their directory.
    Directories of other seeds are removed."""
    out = os.path.join(root, f"seed-{seed}")
    if all(os.path.exists(os.path.join(out, f"{t}.parquet")) for t in TABLES):
        return out
    for old in glob.glob(os.path.join(root, "seed-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        table = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(tmp, f"{t}.parquet"),
                       row_group_size=table.num_rows)
    os.rename(tmp, out)
    return out
