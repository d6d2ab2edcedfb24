#!/usr/bin/env python3
"""Per-table row count and order-independent content hash of a corpus
directory, for checking that two generator runs wrote the same rows.

    python3 tools/table_digest.py <dir> [<dir> ...]

Prints one JSON object: {dir: {table: {"rows": n, "hash": h}}}. A table
is `<t>.parquet`, either one file or a Spark-written directory of part
files. The hash is the sum of DuckDB's per-row `hash` over the whole row,
so it ignores row order and file layout but not duplicates.
"""
import json
import sys
from pathlib import Path

import duckdb


def digest(d):
    con = duckdb.connect()
    out = {}
    for p in sorted(Path(d).glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        n, h = con.execute(
            f"SELECT count(*), sum(hash(t)::HUGEINT) FROM '{src}' t").fetchone()
        out[p.name[: -len(".parquet")]] = {"rows": n, "hash": str(h)}
    return out


if __name__ == "__main__":
    print(json.dumps({d: digest(d) for d in sys.argv[1:]}, indent=1))
