"""Driver-side tracing for the benchmark's traced run.

Spans are recorded around calls into the engine's public functions by
wrapping them from outside (no product code changes): every module that
bound a traced function by name gets the wrapper too, because
``from scanner_spark.io import read_table`` copies the reference.  Spark job,
stage and task figures come from Spark's application status store, the same
source ``scanner_spark.profiler.profile`` reads; Python UDF self time comes
from Spark's ``perf`` UDF profiler, aggregated by the engine module that
owns each function.  Everything stays in memory until the run ends.

Which end-to-end metric each layer metric should move, and where:

- ``exec.action_s/jobs/stages/tasks/gap_s``, ``io.read_table_s`` and
  ``streams.*``: ``query_p50_s`` on analytics_floor;
- ``queries.build_*`` and ``streaming.*``: ``workload_s`` on
  analytics_floor (streaming builders) and dedup_media (eager connected
  components);
- ``exec.executor_run_s/cpu_s`` and ``udf.*``: ``workload_s`` on
  dedup_media; run time far above CPU time marks Python or IO wait.
  ``sources.*``, ``udf.sources_s`` and the H.264, FLAC and audio kernels
  read 0: no workload query ingests video or audio;
- ``exec.shuffle_write_mb/spill_mb/input_mb``, ``dedup.*`` and
  ``caching.release_s``: ``workload_s`` on dedup_media;
- ``exec.failed_tasks``: ``failed`` on both.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import uncovered

# (module, function) -> layer.  The spans whose self time the per-layer
# metrics report; queries.build and caching.release are opened by the run
# loop itself around the builder call and the cache release.
TRACED_FUNCS = {
    ("scanner_spark.io", "read_table"): "io.read_table",
    ("scanner_spark.streams", "make_stream"): "streams.make_stream",
    ("scanner_spark.streams", "make_stream_distributed"): "streams.make_stream",
    ("scanner_spark.functions.dedup", "connected_components"): "dedup.cc",
    ("scanner_spark.functions.dedup", "dedup_clusters"): "dedup.cc",
    ("scanner_spark.functions.dedup", "dedup_keep_best"): "dedup.cc",
    ("scanner_spark.functions.dedup", "minhash_lsh_pairs"): "dedup.pairs",
    ("scanner_spark.functions.dedup", "ngram_jaccard_pairs"): "dedup.pairs",
    ("scanner_spark.functions.dedup", "simhash_pairs"): "dedup.pairs",
    ("scanner_spark.functions.dedup", "cosine_dup_pairs"): "dedup.pairs",
    ("scanner_spark.sources", "ingest_videos"): "sources.ingest",
    ("scanner_spark.sources", "load_frames"): "sources.load_frames",
}

UDF_KERNELS = ("image", "jpeg", "gif", "webp", "tiff", "flac", "audio", "h264")
# kernel modules that belong to a named codec's bucket
_KERNEL_ALIASES = {"h264_cabac": "h264", "h264_deblock": "h264", "cabac": "h264"}
UDF_BUCKETS = tuple(f"udf.kernels.{k}_s" for k in UDF_KERNELS) + (
    "udf.functions.multimodal_s",
    "udf.sources_s",
    "udf.functions.dedup_s",
    "udf.ops_s",
    "udf.other_s",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans of the main thread, keyed by the query that caused them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.query = ""
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if not self.active or threading.get_ident() != self._thread:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.query))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace each traced function in its module and in every engine
        module that imported it by name."""
        for (mod_name, attr), layer in TRACED_FUNCS.items():
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(orig, layer)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (name == "scanner_spark" or name.startswith("scanner_spark.")):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapped)
                        self._restore.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._restore):
            setattr(mod, key, orig)
        self._restore.clear()

    def self_times(self, query: str) -> dict[str, float]:
        """Self time per layer for one query's spans."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.query != query:
                continue
            kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
            out[s.name] += uncovered(s.start, s.end, kids)
        return out

    def intervals(self, query: str, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.query == query and s.name == name]

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "query": s.query}
            for s in self.spans
        ]


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


def _opt_s(opt) -> float | None:
    if opt is not None and opt.isDefined():
        return opt.get().getTime() / 1000.0
    return None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class JobReader:
    """Reads finished jobs from Spark's application status store in id order.

    Job ids are allocated one by one per SparkContext, so the jobs a query
    started are exactly the ids past the cursor once the listener bus has
    drained."""

    def __init__(self, sc) -> None:
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in (2, 3, 4, 5)
        ]
        self.cursor = 0

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def skip(self) -> None:
        """Move the cursor past every job submitted so far."""
        self._drain()
        while self._exists(self.cursor):
            self.cursor += 1

    def _exists(self, jid: int) -> bool:
        try:
            self._store.job(jid)
            return True
        except Exception:  # py4j wraps the store's NoSuchElementException
            return False

    def read_new(self) -> list[Job]:
        self._drain()
        jobs = []
        while True:
            try:
                jd = self._store.job(self.cursor)
            except Exception:
                break
            jobs.append(self._job(self.cursor, jd))
            self.cursor += 1
        return jobs

    def _job(self, jid: int, jd) -> Job:
        start = _opt_s(jd.submissionTime())
        end = _opt_s(jd.completionTime())
        job = Job(jid, start or 0.0, end or start or 0.0)
        for sid in _seq(jd.stageIds()):
            try:
                attempts = self._store.stageData(int(str(sid)), *self._stage_defaults)
            except Exception:  # skipped stages have no stored attempt
                continue
            for sd in _seq(attempts):
                if _opt_s(sd.submissionTime()) is None:
                    continue
                job.stages += 1
                job.tasks += int(sd.numTasks())
                job.failed_tasks += int(sd.numFailedTasks())
                job.run_s += int(sd.executorRunTime()) / 1e3
                job.cpu_s += int(sd.executorCpuTime()) / 1e9
                job.input_b += int(sd.inputBytes())
                job.shuffle_write_b += int(sd.shuffleWriteBytes())
                job.spill_b += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return job


def jobs_within(jobs: list[Job], intervals: list[tuple[float, float]]) -> int:
    """Jobs submitted inside any of ``intervals`` (status-store times carry
    millisecond precision, so the intervals are widened to whole ms)."""
    n = 0
    for j in jobs:
        for a, b in intervals:
            if int(a * 1000) / 1000 <= j.start <= (int(b * 1000) + 1) / 1000:
                n += 1
                break
    return n


def exec_metrics(jobs: list[Job], q_start: float, q_end: float) -> dict[str, float]:
    mb = 1024 * 1024
    return {
        "exec.jobs": len(jobs),
        "exec.stages": sum(j.stages for j in jobs),
        "exec.tasks": sum(j.tasks for j in jobs),
        "exec.failed_tasks": sum(j.failed_tasks for j in jobs),
        "exec.executor_run_s": sum(j.run_s for j in jobs),
        "exec.executor_cpu_s": sum(j.cpu_s for j in jobs),
        "exec.input_mb": sum(j.input_b for j in jobs) / mb,
        "exec.shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / mb,
        "exec.spill_mb": sum(j.spill_b for j in jobs) / mb,
        "exec.gap_s": uncovered(q_start, q_end, [(j.start, j.end) for j in jobs]),
    }


# Spark's UDF profiler reports bare file names, so engine modules are told
# apart by basename; the two dedup.py files (functions, streaming) share a
# bucket, and a third-party module of the same name would land there too
_BASENAME_BUCKETS = {
    **{f"{k}.py": f"udf.kernels.{k}_s" for k in UDF_KERNELS},
    **{f"{k}.py": f"udf.kernels.{v}_s" for k, v in _KERNEL_ALIASES.items()},
    "multimodal.py": "udf.functions.multimodal_s",
    "dedup.py": "udf.functions.dedup_s",
    "ops.py": "udf.ops_s",
    "mp4.py": "udf.sources_s",
    "svf.py": "udf.sources_s",
    "video.py": "udf.sources_s",
}


def udf_bucket(filename: str) -> str:
    """Per-layer bucket of a profiled Python function, by its source file."""
    return _BASENAME_BUCKETS.get(os.path.basename(filename), "udf.other_s")


def udf_self_times(stats_by_id: dict) -> dict[str, float]:
    """Sum pstats self time (tottime) per bucket over every profiled UDF."""
    out = dict.fromkeys(UDF_BUCKETS, 0.0)
    for st in stats_by_id.values():
        if st is None:
            continue
        for (filename, _line, _func), (_cc, _nc, tottime, _ct, _callers) in st.stats.items():
            out[udf_bucket(filename)] += tottime
    return out


def stream_output(dirs: list[str]) -> dict[str, float]:
    """Commit files and bytes written under streaming query directories,
    each holding the engine's ``ckpt`` and ``sink`` subdirectories."""
    batches, ckpt_b, sink_b = 0, 0, 0
    for base in dirs:
        commits = os.path.join(base, "ckpt", "commits")
        if os.path.isdir(commits):
            batches += sum(1 for f in os.listdir(commits) if f.isdigit())
        ckpt_b += _tree_bytes(os.path.join(base, "ckpt"))
        sink_b += _tree_bytes(os.path.join(base, "sink"))
    mb = 1024 * 1024
    return {
        "streaming.batches": batches,
        "streaming.ckpt_mb": ckpt_b / mb,
        "streaming.sink_mb": sink_b / mb,
    }


def _tree_bytes(root: str) -> int:
    total = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total
