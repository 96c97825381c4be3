"""The benchmark's workloads: fixed query sets from ``scanner_spark.queries``.

Each workload stresses a different layer of the engine.  A run is one
closed-loop client: one query at a time, its result collected to the driver.
The sets are fixed so every run of a workload times the same queries; the
run seed only shuffles their order inside each pass after the warm one.
The warm pass runs them in the order listed here, so that the set-up it
ends costs the same in every run: the first query of a session pays
several seconds of JVM warm-up, more for some queries than for others.

They are subsets of the registry, and there are two of them, so that a
series of repeated runs of every workload stays under an hour: a run pays
25-30 s of session start and cold first pass before it times anything,
so each further workload costs more than the timed work it adds.  Every
layer of the engine the per-layer metrics name is exercised by at least
one of the queries, except those of two queries that would add 3 s and
7 s to every dedup_media pass: the FLAC and WAVE kernels
(``multimodal_audio``), and the video source with its H.264 decoder
(``video_decode_pruned``).
"""

from __future__ import annotations

from dataclasses import dataclass


# untimed passes between set-up and the timed ones: the pass after the warm
# one still runs 10-20% slower, while the JIT compiles the planner, the
# scheduler and the Arrow paths to the Python workers
WARMUP_PASSES = 1


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]
    # nominal seconds per warm pass on 4 cores.  The timed pass count is
    # derived from it, not measured, so every run of a workload takes the
    # same number of samples and reports the same tail percentile; there
    # are at least two, because one execution of each of a few queries
    # gives a per-query median that jumps with the slowest of them
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))


WORKLOADS = {
    "analytics_floor": Workload(
        why="few-job JVM plans and builder-side availableNow streaming writes, bound by "
        "the per-query fixed cost of builders, planning and job scheduling",
        queries=(
            "tpch_q3",
            "events_pivot",
            "scanner_gather",
            "scanner_all_distributed",
            "stream_events_dedup",
        ),
        pass_s=4.0,
    ),
    "dedup_media": Workload(
        why="executor- and driver-side Python: cosine LSH pairs in both pair modes, eager "
        "connected components over them, and pure-Python image codecs",
        queries=("emb_cosine_pairs", "emb_dup_clusters", "multimodal_decode"),
        pass_s=10.0,
    ),
}
