#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect).  Session startup is excluded; per-query times are wall
clock including Spark job scheduling — the number that matters at scale.
"""

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scanner_spark.session import get_spark  # noqa: E402
from scanner_spark import queries as Q  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("scanner-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM/codegen/Python-worker spin-up and parquet footer reads are
    # session costs, not query costs — pay them once before the clock starts
    from scanner_spark.io import TABLES, read_table

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLES:
        read_table(spark, sf_dir, t).limit(1).collect()
    # spin up the Python UDF workers (pandas/numpy imports) once
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(10000).repartition(64).select(_noop("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    # two passes, min per query: pass 1 absorbs one-time Catalyst/codegen
    # compile of each plan shape; the min is the steady-state number a
    # long-running cluster job actually sees.  SAME second-pass policy as
    # tools/duck_twin_bench.py so cross-engine ratios always compare like
    # timings.  Round 16: the budget default is now unbounded — single
    # samples on the >=30 s tier swung 33-57 s across rounds on identical
    # code and forced probe adjudication three rounds running; min-of-2
    # everywhere costs the chain a few minutes and buys clean attribution.
    # Override with SPARK_GRAFT_SECOND_PASS_BUDGET_S when a run must be
    # cheap.
    SECOND_PASS_BUDGET_S = float(
        os.environ.get("SPARK_GRAFT_SECOND_PASS_BUDGET_S", "inf")
    )
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for _pass in range(2):
        for name, fn in Q.QUERIES.items():
            if name in failures:
                continue
            if _pass and timings.get(name, 0.0) >= SECOND_PASS_BUDGET_S:
                continue
            t0 = time.monotonic()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = round(time.monotonic() - t0, 3)
                timings[name] = min(timings.get(name, dt), dt)
            except Exception as e:  # a failed query must not hide the others
                failures[name] = f"{type(e).__name__}: {e}"[:200]
            # drop caches persisted inside queries (minhash/jaccard) so
            # leaked blocks don't GC-throttle later queries
            from scanner_spark.caching import release_all

            release_all()
            spark.catalog.clearCache()
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "scanner_spark_query_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "env": _fingerprint(sf_dir, spark.sparkContext.defaultParallelism),
    }
    if failures:
        full["failures"] = failures
    # Full-precision per-query results go to a file (the driver's stdout
    # capture keeps only the last ~2000 chars, which an 80+-query dict
    # overflows — round 3's BENCH json recorded parsed=None for exactly
    # this reason).  The printed line is the same JSON with the query dict
    # greedily packed slowest-first until the line fits the capture window.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(_pack_for_stdout(full), separators=(",", ":")))
    spark.stop()


def _fingerprint(sf_dir: str, parallelism: int) -> dict:
    """Machine/testdata fingerprint so cross-round BENCH comparisons can be
    normalized: testdata regeneration (mtime/rows drift) and machine speed
    (cpu count + a ~1 s single-thread calibration loop) both shift absolute
    times without any code change — round 4's recorded 'regression' was
    exactly this (VERDICT r04, Performance).  ``parallelism`` is the
    session's defaultParallelism, the core count the run actually used;
    ``cpus`` is only what the host has."""
    import glob
    import hashlib

    tables = {}
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        ent = {"mtime": int(os.path.getmtime(p)), "bytes": os.path.getsize(p)}
        try:
            import pyarrow.parquet as pq

            ent["rows"] = pq.ParquetFile(p).metadata.num_rows
        except Exception:
            pass
        tables[os.path.basename(p).rsplit(".", 1)[0]] = ent
    t0 = time.monotonic()
    h, n = 0, 0
    while time.monotonic() - t0 < 1.0:
        h = int.from_bytes(
            hashlib.sha256(h.to_bytes(32, "little")).digest(), "little"
        )
        n += 1
    return {
        "cpus": os.cpu_count(),
        "parallelism": parallelism,
        "calib_sha256_per_sec": n,
        "testdata": tables,
    }


def _pack_for_stdout(full: dict, limit: int = 1900) -> dict:
    """Trim ``full['queries']`` (slowest first, 2-dec) so the compact JSON
    line stays under ``limit`` chars; full data lives in BENCH_FULL.json."""
    # env fingerprint is file-only: it is comparison metadata, and its
    # testdata dict alone would eat most of the stdout capture window
    out = {k: v for k, v in full.items() if k not in ("queries", "env")}
    out["n_queries"] = len(full["queries"])
    out["queries_full"] = "BENCH_FULL.json"
    out["queries"] = {}
    base = len(json.dumps(out, separators=(",", ":")))
    for name, t in sorted(full["queries"].items(), key=lambda kv: -kv[1]):
        entry = len(json.dumps({name: round(t, 2)}, separators=(",", ":")))
        if base + entry > limit:
            out["queries_omitted"] = out["n_queries"] - len(out["queries"])
            break
        out["queries"][name] = round(t, 2)
        base += entry
    return out


if __name__ == "__main__":
    main()
