"""Job timeline of one cold crawl of a ``perfbench`` workload.

Starts a fresh Spark session (the benchmark's own session settings, event
log on), runs the workload's crawl once through ``perfbench``'s ``crawl``,
checks it against the benchmark oracle, and prints one line per Spark job
of the crawl: its ``wave=<w> phase=<p>`` description and its submit and
end offsets in seconds from the crawl's start, then per stage that ran
the task count, the summed executor run time and the summed CPU time.
The last line counts the crawl's jobs per ``phase=`` and in total.

With ``--warm`` a second crawl of the same inputs runs in the same JVM
(Python workers, JIT and caches already started) and its timeline is
printed too: the per-wave constant without the cold-start costs.

Usage (from the repository root):

    python scripts/cold_timeline.py --workload wide_crawl --seed 1 [--warm]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import run as perfbench  # noqa: E402


def read_jobs(path: str) -> list[dict]:
    """Jobs of an uncompressed event log, in submit order, each with its
    description, times (epoch s) and per-stage task totals."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0})
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "desc": (ev.get("Properties") or {}).get("spark.job.description") or "-",
                    "submit": ev["Submission Time"] / 1000,
                    "end": None,
                    "stage_ids": sorted(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    for job in jobs.values():
        job["stages"] = [(s, stages[s]) for s in job["stage_ids"] if s in stages]
    return sorted(jobs.values(), key=lambda j: (j["submit"], j["id"]))


def print_timeline(label: str, rec: dict, wrong: set, n_expected: int, jobs: list[dict]) -> None:
    """One crawl's jobs, offsets from its start, and its per-phase job count."""
    t0, crawl_end = rec["bounds"][0][0], rec["bounds"][-1][1]
    print(
        f"{label}: {rec['attempted']} URLs in {rec['wall']:.2f} s, "
        f"wrong URLs {len(wrong)}/{n_expected}"
    )
    print(f"{'job':>4} {'submit':>8} {'end':>8}  description")
    jobs = [job for job in jobs if t0 <= job["submit"] <= crawl_end]
    for job in jobs:
        end = f"{job['end'] - t0:+8.2f}" if job["end"] is not None else f"{'-':>8}"
        print(f"{job['id']:>4} {job['submit'] - t0:+8.2f} {end}  {job['desc']}")
        for sid, st in job["stages"]:
            print(
                f"{'':>24}stage {sid}: {st['tasks']} tasks, "
                f"run {st['run_s']:.2f} s, cpu {st['cpu_s']:.2f} s"
            )
    phases = Counter(job["desc"].partition("phase=")[2] or job["desc"] for job in jobs)
    per_phase = ", ".join(f"{p} {n}" for p, n in sorted(phases.items()))
    print(f"jobs: {per_phase}; total {len(jobs)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(perfbench.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument(
        "--warm", action="store_true", help="also run and print a second crawl in the same JVM"
    )
    args = ap.parse_args()
    wl = perfbench.WORKLOADS[args.workload]

    run_dir = tempfile.mkdtemp(prefix="cold_timeline-")
    event_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    crawls = []  # (label, crawl record, wrong URLs)
    try:
        spark = perfbench.start_session(run_dir, event_dir)
        site = perfbench.inputs.make_site(args.seed, wl.shape)
        paths = perfbench.inputs.write_site(site, os.path.join(run_dir, "input"))
        frames = perfbench.load_frames(spark, site, paths, wl.budget)
        expected = perfbench.oracle.expected_crawl(
            site, wl.budget, perfbench.MAX_DEPTH, wl.max_waves, wl.content_mode
        )
        for label in ("cold", "warm") if args.warm else ("cold",):
            store_dir = os.path.join(run_dir, f"store_{label}")
            rec = perfbench.crawl(spark, frames, wl, store_dir, wl.max_waves)
            crawls.append((label, rec, perfbench.check(rec, expected)))
        spark.stop()  # flushes the event log
        perfbench.stop_jvm()
        (log_file,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        jobs = read_jobs(log_file)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for label, rec, wrong in crawls:
        print_timeline(
            f"{args.workload} seed={args.seed} {label}", rec, wrong, len(expected.seen), jobs
        )
    return 0 if not any(wrong for _, _, wrong in crawls) else 1


if __name__ == "__main__":
    raise SystemExit(main())
