"""Crawl benchmark for crawl4ai_spark: one workload per run, closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 10 --trace 0

One driver process runs one crawl at a time on ``local[<cpus>]`` through
the public entry points (``frontier.bfs.run_crawl``, the ``WaveStore``
read methods, ``pipeline.CurationPipeline.run``), checks every crawl
against the oracle in ``oracle.py``, and prints as the last line of
stdout one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``attempted`` counts the URLs the oracle expects, summed over the
measured crawls; ``failed`` counts those a crawl got wrong (all of a
crawl's URLs when it raises). With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, from a
second, traced session (see ``tracing.py``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import oracle  # noqa: E402


@dataclass(frozen=True)
class Workload:
    shape: inputs.Shape
    content_mode: str
    budget: int | None  # per-host politeness budget; None = the default
    max_waves: int
    doc_col: str  # results column the curation funnel reads


# Both crawls are one wave of a seed list: on a 4-CPU host every wave
# costs 8-12 s whatever its size, and the first crawl in a fresh JVM
# about 15 s more; a run must stay well under a minute.
WORKLOADS = {
    # every page of 20 hosts, unlimited budget: one wide wave of ~1k
    # pages, whose links are mostly seeds already
    "wide_crawl": Workload(
        inputs.Shape(n_hosts=20, sections=4, leaves=10, hot_factor=4, robots_hosts=3, seed_every_page=True),
        content_mode="links",
        budget=None,
        max_waves=1,
        doc_col="fit_markdown",
    ),
    # every page of 6 hosts under a budget of 20 per host: one narrow
    # wave of 120 scraped pages, with 60% of the frontier still pending
    "content_crawl": Workload(
        inputs.Shape(n_hosts=6, sections=4, leaves=12, robots_hosts=1, seed_every_page=True),
        content_mode="scrape",
        budget=20,
        max_waves=1,
        doc_col="raw_markdown",
    ),
}
MAX_DEPTH = 2
GEN_REPEATS = 3
SCRAPE_PROBE_PAGES = 600


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants (the
    JVM and the Python workers it forks); PSS splits the pages forked
    workers share instead of counting them once per worker."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the process tree's memory every ``interval`` seconds while
    active; ``peak`` holds the largest sample."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def start_session(run_dir: str, event_dir: str | None = None):
    from crawl4ai_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # one short-lived driver on a few shared cores: C1-only JIT and the
        # serial collector keep compiler and GC threads off the task threads
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
        ),
        "spark.eventLog.enabled": str(event_dir is not None).lower(),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    # shuffle partitions at 2x cores, the session module's own guidance
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus, extra_conf=conf
    )


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Frames:
    pages: object
    seeds: object
    robots: object
    budgets: object | None


# the tables ``inputs.write_site`` writes; given up front, Spark reads
# them without a schema-inference job
SCHEMAS = {
    "pages": "url string, html binary",
    "seeds": "url string",
    "robots": "host string, rules_text string, fetch_time timestamp",
}


def load_frames(spark, site: dict, paths: dict, budget: int | None) -> Frames:
    budgets = None
    if budget is not None:
        budgets = spark.createDataFrame(
            [(h, budget) for h in site["hosts"]], "host string, budget int"
        )
    pages, seeds, robots = (spark.read.schema(SCHEMAS[t]).parquet(paths[t]) for t in SCHEMAS)
    return Frames(pages, seeds, robots, budgets)


def curation_pipeline():
    from crawl4ai_spark.operators.dedup import dedup_keep_first
    from crawl4ai_spark.pipeline import CurationPipeline, Keeper, c4_gate, gopher_stage

    return CurationPipeline(
        [
            c4_gate(),
            gopher_stage(),
            Keeper("exact_dedup", lambda alive: dedup_keep_first(alive).select("doc_id")),
        ]
    )


def crawl(spark, frames: Frames, wl: Workload, store_dir: str, max_waves: int, spans=None) -> dict:
    """One crawl with the default ``CrawlConfig`` plus the workload's
    shape fields; ``spans`` (a ``tracing.StoreSpans``) is active during
    the crawl only."""
    from contextlib import nullcontext

    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore

    config = CrawlConfig(
        max_depth=MAX_DEPTH,
        max_waves=max_waves,
        content_mode=wl.content_mode,
        fit_markdown=True,
    )
    t0 = time.time()
    with spans or nullcontext():
        summary = run_crawl(
            spark, frames.pages, frames.seeds, store_dir, config,
            robots=frames.robots, host_budgets=frames.budgets,
        )
    wall = time.time() - t0
    store = WaveStore(spark, store_dir)
    stamps = [t0] + [store.marker(w)["committed_at"] for w in store.committed_waves()]
    return {
        "store": store,
        "attempted": summary["total_attempted"],
        "wall": wall,
        "bounds": list(zip(stamps, stamps[1:])),
    }


def curate(docs) -> tuple[float, dict]:
    """Run the curation funnel and materialise its output; returns the
    wall and the rows each stage kept."""
    t0 = time.time()
    curated, lineage = curation_pipeline().run(docs)
    curated.count()
    rows_out = {r["stage"]: r["rows_out"] for r in lineage.collect()}
    return time.time() - t0, rows_out


def fetched_docs(store, doc_col: str):
    from pyspark.sql import functions as F

    return (
        store.read_table("results")
        .where(F.col("status") == "fetched")
        .select(F.col("url_fp").alias("doc_id"), F.col(doc_col).alias("text"))
    )


def check(rec: dict, expected: oracle.Expected) -> set[str]:
    store = rec["store"]
    rows = [
        tuple(r)
        for r in store.read_table("results")
        .select("url", "wave", "status", "raw_markdown", "fit_markdown")
        .collect()
    ]
    seen = {r.url for r in store.read_table("frontier_delta").select("url").collect()}
    return oracle.wrong_urls(expected, rows, seen)


class Run:
    """State of one benchmark run: inputs, session, oracle, tallies."""

    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.n_crawls = 0
        self.layer: dict = {}

    def log(self, msg: str) -> None:
        print(f"[{self.args.workload} seed={self.args.seed}] {msg}", flush=True)

    def setup(self) -> None:
        os.makedirs(os.path.join(self.run_dir, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        # the Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        t0 = time.time()
        self.spark = start_session(self.run_dir)
        start_s = time.time() - t0

        gen = []
        for _ in range(GEN_REPEATS):
            t = time.time()
            self.site = inputs.make_site(self.args.seed, self.wl.shape)
            self.paths = inputs.write_site(self.site, os.path.join(self.run_dir, "input"))
            gen.append(time.time() - t)
        gen_s = statistics.median(gen)
        t = time.time()
        self.frames = load_frames(self.spark, self.site, self.paths, self.wl.budget)
        load_s = time.time() - t

        # no warm-up crawl: it would cost as much as the cold penalty it
        # removes, and a run cannot afford both (see README.md)
        self.setup_s = start_s + gen_s + load_s
        self.layer |= {
            "session.start_s": (start_s, "s"),
            "synth.gen_s": (gen_s, "s"),
            "synth.load_s": (load_s, "s"),
        }
        self.expected = oracle.expected_crawl(
            self.site, self.wl.budget, MAX_DEPTH, self.wl.max_waves, self.wl.content_mode
        )
        self.log(
            f"setup {self.setup_s:.2f} s (session {start_s:.2f}, inputs {gen_s:.2f} "
            f"for {len(self.site['pages'])} pages, load {load_s:.2f})"
        )

    def measured_crawl(self, spans=None, curation: bool = False) -> dict | None:
        """One crawl (+ curation), checked. Returns None when it raised."""
        store_dir = os.path.join(self.run_dir, f"store{self.n_crawls}")
        self.n_crawls += 1
        n_expected = len(self.expected.seen)
        self.attempted += n_expected
        try:
            rec = crawl(self.spark, self.frames, self.wl, store_dir, self.wl.max_waves, spans)
            if curation:
                rec["curate_s"], rec["rows_out"] = curate(fetched_docs(rec["store"], self.wl.doc_col))
            wrong = check(rec, self.expected)
        except Exception:
            traceback.print_exc()
            self.failed += n_expected
            return None
        self.failed += len(wrong)
        rec["store_dir"] = store_dir
        curated = f", curate {rec['curate_s']:.2f} s {rec['rows_out']}" if curation else ""
        self.log(
            f"crawl: {rec['attempted']} URLs in {rec['wall']:.2f} s, waves "
            f"{[round(b - a, 2) for a, b in rec['bounds']]}{curated}, "
            f"wrong URLs {len(wrong)}/{n_expected}"
        )
        return rec

    def measure(self) -> dict:
        """Closed loop for ``--seconds``: start another crawl only when it
        is expected to finish inside the window (always at least one)."""
        recs = []
        t0 = time.time()
        with RssSampler() as rss:
            while True:
                t = time.time()
                rec = self.measured_crawl()
                if rec is None:
                    break
                shutil.rmtree(rec.pop("store_dir"))
                recs.append(rec)
                if time.time() - t0 + (time.time() - t) > self.args.seconds:
                    break
        if not recs:
            return {}
        return {
            "urls_per_s": (statistics.median(r["attempted"] / r["wall"] for r in recs), "URL/s"),
            "wave_s_p50": (statistics.median(b - a for r in recs for a, b in r["bounds"]), "s"),
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }

    def traced(self) -> dict:
        """A cold crawl and a warm untraced one, then the same crawl and
        its curation in a fresh session (same JVM) with the event log on
        and the store spans active."""
        import tracing

        for _ in range(2):
            plain = self.measured_crawl()
            if plain is None:
                return {}
            shutil.rmtree(plain.pop("store_dir"))
            self.layer.setdefault("bfs.cold_crawl_s", (plain["wall"], "s"))
        self.spark.stop()
        event_dir = os.path.join(self.run_dir, "eventlog")
        self.spark = start_session(self.run_dir, event_dir)
        self.frames = load_frames(self.spark, self.site, self.paths, self.wl.budget)
        spans = tracing.StoreSpans()
        rec = self.measured_crawl(spans, curation=True)
        if rec is None:
            return {}
        n_waves = len(rec["bounds"])
        out = dict(self.layer)
        out |= tracing.store_span_metrics(spans.spans, n_waves)
        out |= tracing.store_size_metrics(rec["store_dir"], rec["attempted"], n_waves)
        out |= tracing.layer_probes(
            rec["store"], self.frames.pages, self.frames.robots,
            self.frames.budgets, SCRAPE_PROBE_PAGES,
        )
        self.spark.stop()  # flushes the event log
        (log_file,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        log = tracing.read_event_log(log_file)
        crawl_end = rec["bounds"][-1][1]
        out |= tracing.wave_metrics(log, spans.spans, rec["bounds"])
        out |= tracing.task_totals(log, rec["bounds"][0][0], crawl_end)
        out |= {
            "pipeline.run_s": (rec["curate_s"], "s"),
            **{f"pipeline.rows_out.{k}": (v, "count") for k, v in rec["rows_out"].items()},
            "trace.overhead_frac": (rec["wall"] / plain["wall"] - 1, "ratio"),
        }
        return out

    def main(self) -> int:
        steal0 = steal_ticks()
        metrics: dict = {}
        try:
            self.setup()
            metrics = self.traced() if self.args.trace else self.measure()
            if self.args.trace:
                metrics["host.steal_ticks"] = (steal_ticks() - steal0, "count")
        finally:
            from pyspark import SparkContext

            try:
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
                stop_jvm()
            finally:
                shutil.rmtree(self.run_dir, ignore_errors=True)
                parent = os.path.dirname(self.run_dir)
                if os.path.isdir(parent) and not os.listdir(parent):
                    os.rmdir(parent)
        ok = self.failed == 0 and bool(metrics)
        for name, (value, unit) in metrics.items():
            print(f"{name:34s} {value:>16.6g} {unit}")
        print(
            f"error_frac {self.failed / self.attempted:.6g} ({self.failed}/{self.attempted} URLs), "
            f"steal ticks {steal_ticks() - steal0}",
            flush=True,
        )
        print(
            json.dumps(
                {
                    "correct": ok,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0 if ok else 1


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    arguments = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "crawl4ai_spark")):
        print(f"crawl4ai_spark package not found under {ROOT}", file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(Run(arguments).main())
