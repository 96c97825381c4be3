#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a base commit against this checkout.

    python3 tools/ab.py BASE_REF --workload analytics_floor [--trace 1]

Checks ``BASE_REF`` out into a detached git worktree under
``.perfbench/ab/``, then runs ``PAIRS`` pairs of fresh
``perfbench/run.py --workload W --seed i`` processes, one on each side,
alternating which side runs first.  Each run's last stdout line is the
benchmark's JSON result.  For every metric it prints both medians, the
base side's interquartile range, how many pairs the change won (ties
count for neither side), each side's failed executions, and each side's
run conditions (median calibration rate, default parallelism) read from
the full records the runs leave in their checkout's
``.perfbench/results``.  Each
end-to-end metric that ``BENCHMARK.json`` bounds gets a verdict against
that bound.  The worktree is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

# the simplicity-review rule for a gain or a no-regression claim: at least
# ten pairs, alternating which side runs first
PAIRS = 10
# a run also computes the workload's oracle digests on its checkout's first
# run (up to perfbench's 840 s oracle timeout)
RUN_TIMEOUT_S = 1800
SIDES = ("base", "change")

WITHIN = "within bound"
WORSE = "worse beyond bound"
UNRESOLVED = "unresolved (spread wider than bound)"
BETTER = "better in every run"


def run_order(pairs: int = PAIRS) -> list[tuple[int, str]]:
    """(seed, side) in execution order: pair ``i`` uses seed ``i`` on both
    sides; odd pairs run the base first, even pairs the change."""
    order = []
    for seed in range(1, pairs + 1):
        first, second = SIDES if seed % 2 else SIDES[::-1]
        order += [(seed, first), (seed, second)]
    return order


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def wins(base: list[float | None], change: list[float | None], better: str) -> int:
    """Pairs whose change value beats its base value; a pair with a missing
    side or a tie counts for neither."""
    sign = 1 if better == "lower" else -1
    return sum(1 for b, c in zip(base, change)
               if b is not None and c is not None and sign * (c - b) < 0)


def verdict(base: list[float], change: list[float], bound: float, better: str = "lower") -> str:
    """Judge one end-to-end metric against its relative ``bound``.

    A change that reads better than the base in every run is ``BETTER``.
    Otherwise a median worse than the base median by more than ``bound``
    is ``WORSE``; a spread (either side's interquartile range, relative to
    the base median) wider than ``bound`` leaves the metric ``UNRESOLVED``;
    anything else is ``WITHIN``."""
    sign = 1 if better == "lower" else -1
    if max(sign * c for c in change) < min(sign * b for b in base):
        return BETTER
    mb = stats.median(base)
    worse_by = sign * (stats.median(change) - mb) / mb
    if worse_by > bound:
        return WORSE
    if max(iqr(base), iqr(change)) / mb > bound:
        return UNRESOLVED
    return WITHIN


def last_json_line(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def run_conditions(checkout: str, workload: str, seed: int, trace: int, since: float) -> dict:
    """Calibration rate and default parallelism from the newest full record
    the run wrote at or after ``since`` (empty when there is none)."""
    results = os.path.join(checkout, ".perfbench", "results")
    prefix = f"{workload}-seed{seed}-trace{trace}-"
    paths = [os.path.join(results, f) for f in os.listdir(results)
             if f.startswith(prefix)] if os.path.isdir(results) else []
    paths = [p for p in paths if os.path.getmtime(p) >= since]
    if not paths:
        return {}
    with open(max(paths, key=os.path.getmtime)) as f:
        record = json.load(f)
    return {"calibration_sha256_per_s": record["env"]["calibration_sha256_per_s"],
            "default_parallelism": record["default_parallelism"]}


def run_once(checkout: str, workload: str, seed: int, trace: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    since = time.time()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"  timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
        return None
    if proc.returncode:
        print(proc.stderr[-2000:], file=sys.stderr)
        return None
    result = last_json_line(proc.stdout)
    if result is not None:
        result["conditions"] = run_conditions(checkout, workload, seed, trace, since)
    return result


def add_worktree(ref: str) -> str:
    path = os.path.join(ROOT, ".perfbench", "ab", "base")
    remove_worktree(path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    subprocess.run(["git", "worktree", "add", "--detach", path, ref], cwd=ROOT,
                   check=True, capture_output=True)
    return path


def remove_worktree(path: str) -> None:
    subprocess.run(["git", "worktree", "remove", "--force", path], cwd=ROOT,
                   capture_output=True)
    shutil.rmtree(path, ignore_errors=True)
    subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)


def report(results: dict[str, list[dict | None]], bench: dict) -> str:
    """The printed table: one row per metric, then each side's failures
    and run conditions."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = sorted({k for runs in results.values() for r in runs if r for k in r["metrics"]},
                   key=lambda k: (k not in bounds, k))
    rows = [("metric", "unit", "base median", "change median", "base IQR",
             "change wins", "verdict")]
    for name in names:
        vals = {side: [r["metrics"][name]["value"] if r and name in r["metrics"] else None
                       for r in results[side]] for side in SIDES}
        base = [v for v in vals["base"] if v is not None]
        change = [v for v in vals["change"] if v is not None]
        if not base or not change:
            continue
        unit = next(r["metrics"][name]["unit"] for r in results["base"] if r and name in r["metrics"])
        n = sum(1 for b, c in zip(vals["base"], vals["change"]) if b is not None and c is not None)
        rows.append((
            name, unit, f"{stats.median(base):.4g}", f"{stats.median(change):.4g}",
            f"{iqr(base):.3g}", f"{wins(vals['base'], vals['change'], better.get(name, 'lower'))}/{n}",
            verdict(base, change, bounds[name], better[name]) if name in bounds else "",
        ))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    lines = ["  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip() for r in rows]
    for side in SIDES:
        runs = results[side]
        done = [r for r in runs if r]
        lines.append(
            f"{side}: {sum(r['failed'] for r in done)} failed of "
            f"{sum(r['attempted'] for r in done)} executions; "
            f"{len(runs) - len(done)} of {len(runs)} runs gave no result"
        )
        conds = [r["conditions"] for r in done if r.get("conditions")]
        cal = [c["calibration_sha256_per_s"] for c in conds]
        par = sorted({c["default_parallelism"] for c in conds})
        lines.append(
            f"{side}: calibration median "
            f"{f'{stats.median(cal):.4g} sha256/s' if cal else 'n/a'}; "
            f"default_parallelism {', '.join(map(str, par)) or 'n/a'} "
            f"({len(conds)} of {len(runs)} records read)"
        )
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_ref")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base_dir = add_worktree(args.base_ref)
    checkouts = {"base": base_dir, "change": ROOT}
    results: dict[str, list[dict | None]] = {side: [None] * PAIRS for side in SIDES}
    try:
        for seed, side in run_order():
            print(f"pair {seed}/{PAIRS} {side}", file=sys.stderr, flush=True)
            results[side][seed - 1] = run_once(checkouts[side], args.workload, seed, args.trace)
    finally:
        remove_worktree(base_dir)
    print(f"{args.workload}: {args.base_ref} (base) vs this checkout (change), "
          f"{PAIRS} interleaved pairs, trace {args.trace}")
    print(report(results, bench))
    return 0


if __name__ == "__main__":
    sys.exit(main())
