"""Rebuild the benchmark's base snapshot from the sf0.1 test tables.

The benchmark never reads outside its checkout, so it samples its inputs
from ``perfbench/base/``: a fixed key-hash subset of the sf0.1 tables its
workloads read. ``TABLES`` gives each table's sample key and the fraction of
sf0.1 keys kept; sampling by key keeps every row of a kept user or document.
Run this only to refresh the snapshot:

    python3 perfbench/make_base.py <sf0.1 directory>
"""

from __future__ import annotations

import os
import sys

import duckdb

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

# table -> (key the sample is drawn on, fraction of sf0.1 keys kept).
TABLES = {
    "events": ("user_id", 0.2),
    "documents": ("doc_id", 0.12),
}


def key_filter(key: str, salt: str, fraction: float) -> str:
    """SQL predicate keeping ``fraction`` of the distinct values of ``key``."""
    return f"hash({key}, '{salt}') % 1000000 < {round(fraction * 1_000_000)}"


def main(src: str) -> None:
    os.makedirs(BASE_DIR, exist_ok=True)
    con = duckdb.connect()
    for table, (key, fraction) in TABLES.items():
        dst = os.path.join(BASE_DIR, f"{table}.parquet")
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet') "
            f"WHERE {key_filter(key, 'perfbench-base', fraction)}) "
            f"TO '{dst}' (FORMAT PARQUET, COMPRESSION ZSTD)"
        )
        n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"{table}: {n} rows", flush=True)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
