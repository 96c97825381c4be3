#!/usr/bin/env python3
"""Benchmark for scanner_spark: one workload per run, oracle-checked.

    python3 perfbench/run.py --workload analytics_floor --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  A run:

1. reads the engine's fixed sf0.1 test tables, kept byte for byte in
   ``perfbench/sf0.1/``, and computes DuckDB oracle digests of every
   workload query once per checkout under ``.perfbench/`` (``oracle.py``);
2. sets up: imports the engine, starts ``local[<cores>]``, ships the
   package and makes one warm pass over the workload in its listed order
   (plan compilation, stream memo, index builds).  ``setup_s`` times this;
3. makes an untimed warm-up pass and then times whole passes over the
   workload, one query at a time: each is built
   with ``QUERIES[name](spark, data_dir)`` and its result collected to the
   driver, caches released between queries.  ``--seed`` shuffles the order
   of every later pass; ``--seconds`` sets how many are timed (see
   ``workloads.py``).

Every execution, warm or timed, is compared with its oracle digest outside
the timed region, so a result that goes stale on a repeated call fails the
run; ``workload_s`` is the median pass, each summed from the timed query
and cache-release walls only.  Collecting instead of forcing a ``noop`` sink
spares a separate checking pass, which would add a whole pass to every run.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced passes and prints per-layer metrics: spans around the
engine's public functions, Spark job/stage figures from the status store,
peak RSS, and Python UDF self time from the warm pass, which then runs
under Spark's UDF profiler.  The last line of stdout is one JSON object; a full record of
the run, with its spans, is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(HERE, "sf0.1")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WARMUP_PASSES, WORKLOADS  # noqa: E402

# fits a 4-core/15 GB machine next to the Python workers; the engine's
# default (24g) assumes a large host
DRIVER_MEMORY = "3g"
ORACLE_TIMEOUT_S = 840
MB = 1024 * 1024

# query_tail_s is the maximum of the 6-25 samples a run takes, whose spread
# across runs reaches 0.25 even on a quiet machine; it is reported with the
# per-layer metrics
END_TO_END = ("setup_s", "workload_s", "query_p50_s")
UNITS = {"s": "s", "mb": "MB", "jobs": "count", "stages": "count", "tasks": "count",
         "batches": "count", "ratio": "ratio", "share": "ratio"}


def unit_of(name: str) -> str:
    return UNITS[name.rsplit("_", 1)[-1].rsplit(".", 1)[-1]]


# ---------------------------------------------------------------- inputs


def data_key() -> str:
    """Digest of the test tables, which keys the oracle cache."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(DATA_DIR, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_oracles(data_dir: str, key: str) -> dict[str, str]:
    """Oracle digests for every workload query, computed on first use."""
    import oracle

    queries = sorted({q for w in WORKLOADS.values() for q in w.queries})
    path = os.path.join(WORK, "oracle", oracle.cache_key(ROOT, key, queries) + ".json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), ROOT, data_dir, path, *queries],
            check=True, timeout=ORACLE_TIMEOUT_S, stdout=sys.stderr,
        )
    with open(path) as f:
        return json.load(f)


def data_fingerprint(data_dir: str, key: str) -> dict:
    import pyarrow.parquet as pq

    tables = {}
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        meta = pq.ParquetFile(p).metadata
        tables[os.path.basename(p)[:-8]] = {
            "rows": meta.num_rows,
            "row_groups": meta.num_row_groups,
            "bytes": os.path.getsize(p),
        }
    return {"sha256_16": key, "tables": tables}


def source_fingerprint() -> dict:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "scanner_spark", "**", "*.py"), recursive=True))
    for p in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"commit": commit, "source_sha256": h.hexdigest()}


def calibration(seconds: float = 0.25) -> float:
    """Single-thread SHA-256 chain rate, to normalise across machines."""
    t0, n, h = time.monotonic(), 0, b"\0" * 32
    while time.monotonic() - t0 < seconds:
        h = hashlib.sha256(h).digest()
        n += 1
    return n / (time.monotonic() - t0)


# ---------------------------------------------------------- isolation


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: str) -> list[str]:
    """Point every temporary location of the engine and of Spark at ``tmp``.

    The engine puts streaming checkpoints in ``/dev/shm`` and never removes
    them; ``mkdtemp`` calls aimed there are redirected into the run's own
    directory so the run writes only inside the checkout and its removal
    cleans up.  Returns the list the redirected directories are appended to.
    """
    for sub in ("local", "index", "stream", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_INDEX_DIR=os.path.join(tmp, "index"),
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM, the launcher's too: no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None
    stream_dirs: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(suffix=None, prefix=None, dir=None):
        if dir is not None and os.path.realpath(dir) == "/dev/shm":
            path = real_mkdtemp(suffix, prefix, os.path.join(tmp, "stream"))
            stream_dirs.append(path)
            return path
        return real_mkdtemp(suffix, prefix, dir)

    tempfile.mkdtemp = mkdtemp
    return stream_dirs


def spark_conf(tmp: str) -> dict:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants
    (driver JVM, Python workers), sampled from ``/proc``."""

    def __init__(self, period_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()


# ------------------------------------------------------------------ run


class Bench:
    def __init__(self, args, data_dir: str, digests: dict, stream_dirs: list[str]) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.data_dir = data_dir
        self.digests = digests
        self.stream_dirs = stream_dirs
        self.attempted = 0
        self.failures: list[dict] = []
        self.tracer = None
        self.jobs = None

    def order(self, pass_idx: int) -> list[str]:
        qs = list(self.workload.queries)
        random.Random(f"{self.args.seed}:{pass_idx}").shuffle(qs)
        return qs

    def _fail(self, phase: str, name: str, why: str) -> None:
        self.failures.append({"phase": phase, "query": name, "error": why[:500]})

    def execute(self, name: str, phase: str, traced: bool = False) -> tuple[float, dict]:
        """Build one query and collect its result, timed; then compare the
        result with the query's oracle digest, untimed.  Returns (wall
        seconds, layer figures of a traced execution)."""
        from oracle import digest

        self.attempted += 1
        fn = self.Q.QUERIES[name]
        if traced:
            self.jobs.skip()
            self.tracer.query = f"{phase}:{name}"
            self.tracer.active = True
            n_stream = len(self.stream_dirs)
        pdf, t_build = None, None
        t0 = time.time()
        m0 = time.monotonic()
        try:
            if traced:
                with self.tracer.span("queries.build"):
                    df = fn(self.spark, self.data_dir)
                t_build = time.time()
            else:
                df = fn(self.spark, self.data_dir)
            pdf = df.toPandas()
        except Exception as e:  # one failed query must not hide the others
            self._fail(phase, name, f"{type(e).__name__}: {e}")
        wall = time.monotonic() - m0
        t1 = time.time()
        layers: dict[str, float] = {}
        if traced:
            self.tracer.active = False
            layers = self.layer_figures(t0, t_build or t1, t1, self.stream_dirs[n_stream:])
        if pdf is not None and digest(pdf) != self.digests[name]:
            self._fail(phase, name, "output differs from the oracle")
        return wall, layers

    def release(self, traced: bool = False) -> float:
        """Drop the caches queries persisted, as the engine's bench does."""
        m0 = time.monotonic()
        if traced:
            self.tracer.active = True
        with self.tracer.span("caching.release") if traced else nullcontext():
            self.release_all()
            self.spark.catalog.clearCache()
        if traced:
            self.tracer.active = False
        return time.monotonic() - m0

    def layer_figures(self, t0: float, t_build: float, t1: float, new_streams: list[str]) -> dict:
        from tracing import exec_metrics, jobs_within, stream_output

        q = self.tracer.query
        jobs = self.jobs.read_new()
        selfs = self.tracer.self_times(q)
        out = exec_metrics(jobs, t0, t1)
        out.update(
            {
                "queries.build_s": t_build - t0,
                "queries.build_jobs": jobs_within(jobs, self.tracer.intervals(q, "queries.build")),
                "exec.action_s": t1 - t_build,
                "io.read_table_s": selfs.get("io.read_table", 0.0),
                "streams.make_stream_s": selfs.get("streams.make_stream", 0.0),
                "streams.layout_jobs": jobs_within(jobs, self.tracer.intervals(q, "streams.make_stream")),
                "dedup.cc_s": selfs.get("dedup.cc", 0.0),
                "dedup.cc_jobs": jobs_within(jobs, self.tracer.intervals(q, "dedup.cc")),
                "dedup.pairs_s": selfs.get("dedup.pairs", 0.0),
                "sources.ingest_s": selfs.get("sources.ingest", 0.0),
                "sources.load_frames_s": selfs.get("sources.load_frames", 0.0),
            }
        )
        out.update(stream_output(new_streams))
        return out

    def run(self) -> dict:
        rss = RssSampler()
        if self.args.trace:
            rss.start()
        t_setup = time.monotonic()
        from scanner_spark import queries as Q
        from scanner_spark.caching import release_all
        from scanner_spark.deploy import ship
        from scanner_spark.session import get_spark

        self.Q, self.release_all = Q, release_all
        missing = [q for q in self.workload.queries if q not in Q.QUERIES]
        if missing:
            raise SystemExit(f"perfbench: queries not in the registry: {missing}")
        phases = {"import_s": time.monotonic() - t_setup}
        self.spark = get_spark("perfbench", extra_conf=spark_conf(os.environ["TMPDIR"]))
        try:
            self.spark.sparkContext.setLogLevel("ERROR")
            ship(self.spark)
            phases["session_s"] = time.monotonic() - t_setup - phases["import_s"]
            record = self.measure(t_setup, phases, rss)
        finally:
            rss.stop()
            m0 = time.monotonic()
            self.stop_spark()
            phases["stop_s"] = time.monotonic() - m0
        return record

    def measure(self, t_setup: float, phases: dict, rss: RssSampler) -> dict:
        args = self.args
        warm = {}
        # the UDF profiler inflates wall time, so it only runs in the warm
        # pass of a traced run, which reports no setup_s; its self times
        # include first-call costs, as a cold start pays them
        if args.trace:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        for name in self.workload.queries:
            warm[name], _ = self.execute(name, "warm")
            self.release()
        if args.trace:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        setup_s = time.monotonic() - t_setup
        for p in range(WARMUP_PASSES):
            for name in self.order(-1 - p):
                self.execute(name, f"warmup{p}")
                self.release()
        phases["warmup_s"] = time.monotonic() - t_setup - setup_s

        if args.trace:
            from tracing import JobReader, Tracer, udf_self_times

            self.tracer, self.jobs = Tracer(), JobReader(self.spark.sparkContext)
            self.tracer.install()
        samples: list[float] = []
        passes: list[dict] = []
        for p in range(self.workload.passes(args.seconds)):
            # traced, untraced, untraced, traced, ...: the first timed pass
            # can still be the slowest, so with two passes the tracing
            # overhead reads high rather than below 1
            traced = bool(args.trace) and p % 4 in (0, 3)
            layers: dict[str, float] = defaultdict(float)
            per_query, by_query = {}, {}
            pass_s = 0.0
            for name in self.order(p):
                wall, figs = self.execute(name, f"pass{p}", traced)
                rel = self.release(traced)
                pass_s += wall + rel
                per_query[name] = wall
                if traced:
                    by_query[name] = figs
                for k, v in figs.items():
                    layers[k] += v
                if traced:
                    layers["caching.release_s"] += rel
            passes.append({"traced": traced, "wall_s": pass_s, "queries": per_query,
                           "layers": dict(layers), "layers_by_query": by_query})
            if not traced:
                samples.extend(per_query.values())
        phases["timed_s"] = time.monotonic() - t_setup - setup_s - phases["warmup_s"]

        untraced = [p["wall_s"] for p in passes if not p["traced"]]
        value, pct, n = stats.tail(samples)
        record = {
            "setup_s": setup_s,
            "workload_s": stats.median(untraced),
            "query_p50_s": stats.median(samples),
            "query_tail_s": value,
            "query_tail_percentile": pct,
            "query_samples": n,
            "phases": phases,
            "warm": warm,
            "passes": passes,
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
        }
        if args.trace:
            rss.stop()
            self.tracer.uninstall()
            traced_passes = [p for p in passes if p["traced"]]
            keys = sorted({k for p in traced_passes for k in p["layers"]})
            per_layer = {k: stats.median([p["layers"].get(k, 0.0) for p in traced_passes])
                         for k in keys}
            per_layer["queries.build_share"] = stats.median(
                [p["layers"]["queries.build_s"] / p["wall_s"] for p in traced_passes]
            )
            per_layer["trace.overhead_ratio"] = (
                stats.median([p["wall_s"] for p in traced_passes]) / record["workload_s"]
            )
            per_layer["peak_rss_mb"] = rss.peak_bytes / MB
            per_layer["query_tail_s"] = value
            per_layer.update(udf_self_times(self.spark._profiler_collector._perf_profile_results))
            record["per_layer"] = per_layer
            record["spans"] = self.tracer.to_json()
        record["attempted"] = self.attempted
        record["failures"] = self.failures
        record["failed_frac"] = stats.failed_frac(self.attempted, len(self.failures))
        return record

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM and its workers to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_children()


def reap_children(timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("scanner_spark/queries.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a scanner_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    data_dir, key = DATA_DIR, data_key()
    digests = ensure_oracles(data_dir, key)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tmp = os.path.join(WORK, "runs", run_id)
    stream_dirs = isolate(tmp)
    try:
        record = Bench(args, data_dir, digests, stream_dirs).run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    source = record["per_layer"] if args.trace else record
    names = sorted(record["per_layer"]) if args.trace else END_TO_END
    result = {
        "correct": not record["failures"],
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": {k: {"value": source[k], "unit": unit_of(k)} for k in names},
    }
    return emit(args, record, result, data_dir, key)


def emit(args, record: dict, result: dict, data_dir: str, key: str) -> int:
    record.update(
        {
            "args": vars(args),
            "workload": {"name": args.workload, "queries": list(WORKLOADS[args.workload].queries)},
            "env": {
                "nproc": cpu_count(),
                "calibration_sha256_per_s": calibration(),
                "driver_memory": DRIVER_MEMORY,
                "data": data_fingerprint(data_dir, key),
                **source_fingerprint(),
            },
            "result": result,
        }
    )
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for k, m in result["metrics"].items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"{args.workload} query_tail_s is p{record['query_tail_percentile']:.1f} "
              f"of {record['query_samples']} samples")
    print(f"{args.workload} failed_frac = {record['failed_frac']:.6g} "
          f"of {record['attempted']} executions")
    for f_ in record["failures"]:
        print(f"FAILED {f_['phase']} {f_['query']}: {f_['error']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
