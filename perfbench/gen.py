"""Seeded input generator for the benchmark.

Content is the engine's sf0.1 test drop: `data/sf0.1/` holds a verbatim
copy of the drop's tables that the workloads read (see `DROP_SHA256`;
the benchmark reads nothing outside its checkout). A workload reads the
drop whole (`frac` = 1) or a fixed subset of every table's rows: the
same `round(frac * rows)` rows for every seed, chosen with a fixed
content seed.

The run seed does not change content. It permutes the row order of
every table, which also decides which rows share each of its parquet
files, so two seeds hold the same rows in a different physical layout.
Output lands in `<cache>/<content key>-s<seed>/<table>.parquet/part-*.parquet`,
with the row count of every table in `rows.json`; a finished directory
is reused.
"""
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

DROP = Path(__file__).resolve().parent / "data" / "sf0.1"
DROP_SHA256 = {
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
}
CONTENT_SEED = 42
VERSION = 2
KEEP_PER_KEY = 3  # cached seeds kept per content key
FILES = 4  # parquet files per table; a fixed count keeps scan parallelism equal across seeds


def base_tables(frac, names):
    """The drop's tables `names`, each cut to a fixed `frac` of its rows."""
    tables = {}
    for name in names:
        path = DROP / f"{name}.parquet"
        if hashlib.sha256(path.read_bytes()).hexdigest() != DROP_SHA256[name]:
            raise ValueError(f"{path} is not the sf0.1 drop's {name} table")
        tab = pq.read_table(path)
        if frac < 1:
            rng = np.random.default_rng(CONTENT_SEED)
            keep = max(1, round(frac * tab.num_rows))
            tab = tab.take(np.sort(rng.choice(tab.num_rows, keep, replace=False)))
        tables[name] = tab
    return tables


def write(tables, out_dir, seed):
    """Write every table permuted and split into files by `seed`."""
    rng = np.random.default_rng(seed)
    for name, tab in sorted(tables.items()):
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        tab = tab.take(rng.permutation(tab.num_rows))
        for i, chunk in enumerate(np.array_split(np.arange(tab.num_rows), FILES)):
            pq.write_table(tab.take(chunk), os.path.join(d, f"part-{i:05d}.parquet"))


def content_key(frac, names):
    """Names the generated content; equal keys mean equal rows."""
    return f"v{VERSION}-f{frac}-" + "-".join(sorted(names))


def ensure(cache, frac, names, seed):
    """Directory of the generated inputs for (frac, names, seed), and the
    row count of every table."""
    key = content_key(frac, names)
    out = os.path.join(cache, f"{key}-s{seed}")
    done = os.path.join(out, "rows.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        tables = base_tables(frac, names)
        write(tables, out, seed)
        with open(done, "w") as f:
            json.dump({k: v.num_rows for k, v in sorted(tables.items())}, f)
        _evict(cache, key, keep=out)
    os.utime(done)
    with open(done) as f:
        return out, json.load(f)


def _evict(cache, key, keep):
    dirs = [os.path.join(cache, d) for d in os.listdir(cache) if d.startswith(f"{key}-s")]
    dirs = [d for d in dirs if d != keep]
    dirs.sort(key=lambda d: os.path.getmtime(d), reverse=True)
    for d in dirs[KEEP_PER_KEY - 1:]:
        shutil.rmtree(d, ignore_errors=True)
