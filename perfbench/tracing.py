"""Per-layer numbers for a traced run, taken from outside the engine.

Three sources, all kept in memory until the run ends:

- ``StoreSpans`` wraps the public ``WaveStore`` methods the crawl loop
  calls (table writes, lineage, commit, state reloads) and records one
  span per call;
- ``read_event_log`` parses the Spark event log of the traced session
  (uncompressed, not rolled: the benchmark's session config) into jobs,
  stages, tasks and SQL executions; an execution that inserts into
  ``staging/<table>/wave=<k>`` is attributed to that table and wave;
- ``layer_probes`` times standalone calls of single operators on frames
  read back from the committed store, each written to the ``noop`` sink.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

_PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
_STAGING = re.compile(r"/staging/([a-z_]+)/wave=(\d+)")
STORE_TABLES = ("results", "host_state", "frontier_delta", "seen_bloom", "metrics")


@dataclass
class Span:
    name: str
    start: float
    end: float


class StoreSpans:
    """Context manager: while active, every call of the wrapped
    ``WaveStore`` methods records a span (the crawl calls them from its
    writer threads too, hence the lock)."""

    _METHODS = {  # method -> span name, from the call's positional args
        "write_table": lambda a: f"write_s.{a[0]}",
        "write_lineage": lambda a: "lineage_s",
        "commit": lambda a: "commit_s",
        "read_table": lambda a: "reload_s",
        "read_latest": lambda a: "reload_s",
    }

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._saved: dict = {}

    def __enter__(self) -> "StoreSpans":
        from crawl4ai_spark.frontier.store import WaveStore

        for method, label in self._METHODS.items():
            original = getattr(WaveStore, method)
            self._saved[method] = original
            setattr(WaveStore, method, self._wrap(original, label))
        return self

    def __exit__(self, *exc) -> None:
        from crawl4ai_spark.frontier.store import WaveStore

        for method, original in self._saved.items():
            setattr(WaveStore, method, original)

    def _wrap(self, original, label):
        def wrapped(store, *args, **kwargs):
            name = label(args)
            t0 = time.time()
            try:
                return original(store, *args, **kwargs)
            finally:
                with self._lock:
                    self.spans.append(Span(name, t0, time.time()))

        return wrapped


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # id -> {start, end, stage_ids, execution}
    stages_run: set = field(default_factory=set)  # ids of stages that ran
    tasks: list = field(default_factory=list)  # dicts of per-task metrics
    executions: dict = field(default_factory=dict)  # execution id -> (table, wave)


def read_event_log(path: str) -> EventLog:
    """One pass over an uncompressed JSON-lines event log. Times are
    epoch seconds, the clock ``time.time()`` uses on the same host."""
    log = EventLog()
    py_ids: dict[int, str] = {}

    def walk_plan(node: dict, execution: int | None) -> None:
        for m in node.get("metrics", ()):
            if m["name"] in _PY_METRICS:
                py_ids[m["accumulatorId"]] = _PY_METRICS[m["name"]]
        if execution is not None and node.get("nodeName", "").endswith("InsertIntoHadoopFsRelationCommand"):
            # the insert's target; scans in the same plan may read other staging dirs
            hit = _STAGING.search(node.get("simpleString", ""))
            if hit:
                log.executions[execution] = (hit.group(1), int(hit.group(2)))
        for child in node.get("children", ()):
            walk_plan(child, execution)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                task = {
                    "start": info["Launch Time"] / 1000,
                    "end": info["Finish Time"] / 1000,
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "failed": ev["Task End Reason"]["Reason"] != "Success",
                }
                for acc in info.get("Accumulables", ()):
                    key = py_ids.get(acc["ID"])
                    if key is not None:
                        task[key] = task.get(key, 0) + int(acc.get("Update", 0))
                log.tasks.append(task)
            elif kind == "SparkListenerJobStart":
                execution = ev.get("Properties", {}).get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "stage_ids": list(ev["Stage IDs"]),
                    "execution": int(execution) if execution is not None else None,
                }
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                log.stages_run.add(ev["Stage Info"]["Stage ID"])
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk_plan(ev.get("sparkPlanInfo") or {}, ev.get("executionId"))
    return log


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, disjoint union of (start, end) intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _length(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in intervals)


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def wave_metrics(log: EventLog, spans: list[Span], bounds: list[tuple[float, float]]) -> dict:
    """Per-wave numbers of one traced crawl; ``bounds`` are the waves'
    (start, commit) walls. A job belongs to the wave its submission
    falls in. Coverage is the share of a wave's wall explained by store
    spans, jobs attributed to a store table, and the time no job runs
    (the driver gap)."""
    per_wave = []
    for lo, hi in bounds:
        jobs = [j for j in log.jobs.values() if lo <= j["start"] < hi and j["end"] is not None]
        stage_ids = {s for j in jobs for s in j["stage_ids"]}
        busy = _union([iv for j in jobs if (iv := _clip((j["start"], j["end"]), lo, hi))])
        idle = [(a[1], b[0]) for a, b in zip([(lo, lo)] + busy, busy + [(hi, hi)]) if b[0] > a[1]]
        explained = [iv for sp in spans if (iv := _clip((sp.start, sp.end), lo, hi))]
        explained += [
            iv
            for j in jobs
            if j["execution"] in log.executions
            and (iv := _clip((j["start"], j["end"]), lo, hi))
        ]
        per_wave.append(
            {
                "jobs": len(jobs),
                "stage_ids": len(stage_ids),
                "stages": sum(1 for s in stage_ids if s in log.stages_run),
                "tasks": sum(1 for t in log.tasks if t["stage"] in stage_ids),
                "gap_s": _length(idle),
                "table_jobs": sum(1 for j in jobs if j["execution"] in log.executions),
                "coverage": _length(_union(explained + idle)) / (hi - lo),
            }
        )
    med = lambda k: statistics.median(p[k] for p in per_wave)  # noqa: E731
    return {
        "bfs.jobs_per_wave": (med("jobs"), "count"),
        "bfs.stages_per_wave": (med("stages"), "count"),
        "bfs.stage_ids_per_wave": (med("stage_ids"), "count"),
        "bfs.tasks_per_wave": (med("tasks"), "count"),
        "bfs.driver_gap_s_per_wave": (med("gap_s"), "s"),
        "bfs.wave_coverage_min": (min(p["coverage"] for p in per_wave), "ratio"),
        "store.table_jobs_per_wave": (med("table_jobs"), "count"),
    }


def task_totals(log: EventLog, lo: float, hi: float) -> dict:
    """Executor-side totals of the tasks launched in [lo, hi)."""
    tasks = [t for t in log.tasks if lo <= t["start"] < hi]
    total = lambda k: sum(t.get(k, 0) for t in tasks)  # noqa: E731
    return {
        "spark.executor_run_s": (total("run_s"), "s"),
        "spark.executor_cpu_s": (total("cpu_s"), "s"),
        "spark.gc_s": (total("gc_s"), "s"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (total("spill_bytes"), "bytes"),
        "spark.failed_tasks": (sum(t["failed"] for t in tasks), "count"),
        "extraction.py_start_s": (total("py_start_ms") / 1000, "s"),
        "extraction.py_init_s": (total("py_init_ms") / 1000, "s"),
        "extraction.py_run_s": (total("py_run_ms") / 1000, "s"),
        "extraction.bytes_to_py": (total("bytes_to_py"), "bytes"),
        "extraction.bytes_from_py": (total("bytes_from_py"), "bytes"),
    }


def store_span_metrics(spans: list[Span], n_waves: int) -> dict:
    """Seconds per committed wave spent in each WaveStore call kind."""
    sums: dict[str, float] = {}
    for sp in spans:
        sums[sp.name] = sums.get(sp.name, 0.0) + (sp.end - sp.start)
    names = [f"write_s.{t}" for t in STORE_TABLES] + ["commit_s", "reload_s", "lineage_s"]
    return {f"store.{n}": (sums.get(n, 0.0) / n_waves, "s") for n in names}


def store_size_metrics(store_dir: str, n_urls: int, n_waves: int) -> dict:
    n_files, n_bytes = 0, 0
    for dirpath, _, files in os.walk(os.path.join(store_dir, "tables")):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return {
        "store.bytes_per_url": (n_bytes / n_urls, "bytes"),
        "store.files_per_wave": (n_files / n_waves, "count"),
    }


def _timed_noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def layer_probes(store, pages, robots, budgets, scrape_sample: int) -> dict:
    """Standalone calls of single layers on frames read back from the
    committed store of the traced crawl."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.extraction.udfs import make_scrape_udf, udf_extract_links
    from crawl4ai_spark.frontier.bfs import CrawlConfig
    from crawl4ai_spark.functions.fingerprint import url_fingerprint
    from crawl4ai_spark.functions.urlnorm import host_col
    from crawl4ai_spark.operators.bloom import bloom_prefilter, build_bloom_shards
    from crawl4ai_spark.operators.politeness import rank_by_host_budget
    from crawl4ai_spark.operators.robots import attach_robots_verdict

    cfg = CrawlConfig()
    out: dict = {}
    results = store.read_table("results")
    fetched = (
        results.where(F.col("status") == "fetched")
        .select("url", "wave")
        .join(pages.select("url", "html"), "url")
        .localCheckpoint()
    )
    n_fetched = fetched.count()

    secs = _timed_noop(fetched.select(udf_extract_links("html", "url").alias("l")))
    out["extraction.links_pages_per_s"] = (n_fetched / secs, "pages/s")
    sample = fetched.orderBy("url").limit(scrape_sample).localCheckpoint()
    n_sample = sample.count()
    secs = _timed_noop(sample.select(make_scrape_udf(fit=True)("html", "url").alias("s")))
    out["extraction.scrape_pages_per_s"] = (n_sample / secs, "pages/s")

    # the discovered-link set: every anchor of every fetched page
    links = (
        fetched.select("wave", udf_extract_links("html", "url").alias("l"))
        .select("wave", F.explode(F.concat("l.internal", "l.external")).alias("a"))
        .select("wave", F.col("a.href").alias("url"))
        .localCheckpoint()
    )
    n_links = links.count()
    secs = _timed_noop(links.select(url_fingerprint("url").alias("fp"), host_col(F.col("url")).alias("h")))
    out["functions.fingerprint_urls_per_s"] = (n_links / secs, "URL/s")
    frontier = store.read_table("frontier_delta")
    n_new = frontier.where(F.col("enqueue_wave") > 0).count()
    out["frontier.discovered"] = (n_links, "count")
    out["frontier.new_per_discovered"] = (n_new / n_links, "ratio")

    # rank, robots and bloom on the largest wave's input: its pending
    # rows, and the seen set as it stood before that wave
    sizes = dict(results.groupBy("wave").count().collect())
    big = max(sizes, key=sizes.get)
    pending = frontier.where(F.col("enqueue_wave") == big).localCheckpoint()
    out["politeness.rank_s"] = (
        _timed_noop(rank_by_host_budget(pending, budgets, cfg.default_budget).where("selected")),
        "s",
    )
    out["robots.gate_s"] = (_timed_noop(attach_robots_verdict(pending, robots, cfg.user_agent)), "s")
    seen_before = frontier.where(F.col("enqueue_wave") <= big).select("url_fp")
    t0 = time.time()
    shards = build_bloom_shards(seen_before, cfg.n_bloom_shards, cfg.bloom_fpp).localCheckpoint()
    out["bloom.build_s"] = (time.time() - t0, "s")
    # probe: the largest wave's distinct discovered links, as the loop
    # probes them before the exact anti-join
    cand = (
        links.where(F.col("wave") == big)
        .select(url_fingerprint("url").alias("url_fp"))
        .distinct()
        .localCheckpoint()
    )
    n_cand = cand.count()
    tagged = bloom_prefilter(cand, shards, cfg.n_bloom_shards)
    out["bloom.probe_s"] = (_timed_noop(tagged), "s")
    out["bloom.maybe_seen_frac"] = (tagged.where("maybe_seen").count() / n_cand, "ratio")
    out["bloom.probed"] = (n_cand, "count")
    for df in (fetched, sample, links, pending, shards, cand):
        df.unpersist()
    return out
