"""Seeded benchmark inputs.

A seed picks a key-hash sample of the base snapshot (``perfbench/base``).
Every seed keeps the same fraction of each table's keys (see
``make_base.TABLES``), so all rows of a kept user or document stay
together. A seed's tables are written once under the work directory and
reused by every later run with that seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import duckdb

from make_base import BASE_DIR, TABLES, key_filter

# Of each base table's keys. A high fraction keeps the graphs' shape, and so
# the work a pass does, nearly the same from seed to seed.
SEED_FRACTION = 0.85


def seeded_inputs(work_dir: str, seed: int, base_dir: str = BASE_DIR) -> str:
    """Return the directory holding ``seed``'s tables, writing it if needed."""
    tag = "base" if base_dir == BASE_DIR else hashlib.md5(base_dir.encode()).hexdigest()[:8]
    out = os.path.join(work_dir, "inputs", f"{tag}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    for table, (key, _) in TABLES.items():
        src = os.path.join(base_dir, f"{table}.parquet")
        if not os.path.exists(src):
            raise FileNotFoundError(f"base table missing: {src}")
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{src}') "
            f"WHERE {key_filter(key, f'seed-{seed}', SEED_FRACTION)}) "
            f"TO '{tmp}/{table}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
