"""Oracle digests: each query's expected output, computed once with DuckDB.

Outputs are canonicalized the way the engine's parity test does (sorted
column names, full-precision float repr, rows sorted) and reduced to a
SHA-256 digest, so a run compares one string per query.  DuckDB needs
minutes for some oracles, so the digests are cached in a file keyed by the
data and the oracle text; a change to either recomputes them.

Run as a script to fill the cache:
``python3 oracle.py <root> <data_dir> <cache_file> <query>...``
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys


def canon(v) -> str:
    """The parity test's canonical value (``tests/test_entry_parity.py``),
    restated because a test module is no interface to build on."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame's columns and values."""
    cols = sorted(pdf.columns)
    values = [[canon(v) for v in pdf[c].tolist()] for c in cols]
    rows = sorted(zip(*values)) if cols else []
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def cache_key(root: str, data_key: str, queries: list[str]) -> str:
    """Key over the data, the oracle definitions and the query set."""
    h = hashlib.sha256(data_key.encode())
    with open(os.path.join(root, "__spark_entry__.py"), "rb") as f:
        h.update(f.read())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    h.update(repr(sorted(queries)).encode())
    return h.hexdigest()[:16]


def compute(root: str, data_dir: str, queries: list[str]) -> dict[str, str]:
    import duckdb

    sys.path.insert(0, root)
    import __spark_entry__ as entry
    from scanner_spark.io import TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {q: digest(con.execute(sql[q]).df()) for q in queries}
    finally:
        con.close()


def main(argv: list[str]) -> None:
    root, data_dir, out, *queries = argv
    digests = compute(root, data_dir, queries)
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    os.replace(tmp, out)


if __name__ == "__main__":
    main(sys.argv[1:])
