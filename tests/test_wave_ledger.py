"""The commit marker is the ledger of each wave: the metrics row is built
on the driver, written without a Spark job and copied into the marker,
so resumes and loop checks read the markers, not the metrics table."""

import os

import pyarrow as pa
import pytest

from crawl4ai_spark.frontier import adaptive
from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
from crawl4ai_spark.frontier.store import WaveStore
from tests.reference_crawler import reference_crawl


def _new_job_descriptions(spark, before: set) -> list:
    """Descriptions of the jobs started since ``before`` was taken."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are delivered async
    out = []
    for job_id in set(sc.statusTracker().getJobIdsForGroup(None)) - before:
        desc = sc._jsc.sc().statusStore().job(job_id).description()
        out.append(desc.get() if desc.isDefined() else None)
    return out


def _job_ids(spark) -> set:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture(scope="module")
def small_site(tmp_path_factory):
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    site = generate_site(n_hosts=2, cats=2, prods=3, seed=7)
    d = str(tmp_path_factory.mktemp("ledger_site"))
    write_site_parquet(site, d)
    return site, d


def test_write_rows_starts_no_spark_job(spark, tmp_path):
    """write_rows stages a driver-held table without a Spark job, and the
    schema it records is the one Spark reads back."""
    store = WaveStore(spark, str(tmp_path / "s"))
    table = pa.table(
        {
            "wave": pa.array([3, 3], pa.int64()),
            "n": pa.array([1, None], pa.int32()),
            "wall_sec": pa.array([0.5, 1.25], pa.float64()),
            "name": pa.array(["a", None], pa.string()),
        }
    )
    sc = spark.sparkContext
    group = "write-rows-no-job"
    sc.setJobGroup(group, "write_rows")
    try:
        store.write_rows("metrics", 3, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert store.pending_count(3, "metrics") == 2
    marker = store.commit(3)
    read = spark.read.parquet(store._table_path("metrics", 3))
    assert marker["schemas"]["metrics"] == read.schema.json()
    assert sorted(map(tuple, read.collect()), key=str) == sorted(
        map(tuple, (r.values() for r in table.to_pylist())), key=str
    )


def test_crawl_markers_are_the_ledger_and_no_trailing_wave(spark, small_site, tmp_path):
    """A crawl that exhausts its frontier commits its last wave and starts
    nothing for the next one; every marker's meta equals its wave's
    metrics row; a resume of the finished store starts no job for the
    next wave either and leaves waves, totals and the seen set as they
    were."""
    site, d = small_site
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(d, "seeds.parquet"))
    store_dir = str(tmp_path / "store")
    cfg = CrawlConfig(max_depth=3, n_bloom_shards=4)

    before = _job_ids(spark)
    summary = run_crawl(spark, pages, seeds, store_dir, cfg)
    descriptions = _new_job_descriptions(spark, before)
    store = WaveStore(spark, store_dir)
    final = summary["final_wave"]
    assert final == store.last_wave() == 3
    assert [w["wave"] for w in summary["waves"]] == store.committed_waves() == [0, 1, 2, 3]
    assert not [x for x in descriptions if x.startswith(f"wave={final + 1} ")], descriptions
    assert "metrics" not in {x.split("phase=")[1] for x in descriptions}

    metrics = store.read_table("metrics")
    assert [f.dataType.simpleString() for f in metrics.schema.fields] == [
        "bigint", "bigint", "bigint", "bigint", "double",
    ]
    rows = {r.wave: r.asDict() for r in metrics.collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    for w, row in rows.items():
        meta = store.marker(w)["meta"]
        assert {k: meta[k] for k in row} == row
    assert summary["total_attempted"] == sum(r["n_attempted"] for r in rows.values())

    ref = reference_crawl(
        {p["url"]: p["html"] for p in site["pages"]}, [s["url"] for s in site["seeds"]], max_depth=3
    )
    seen = {r.url for r in store.read_table("frontier_delta").select("url").collect()}
    assert seen == set(ref["frontier"])

    before = _job_ids(spark)
    resumed = run_crawl(spark, pages, seeds, store_dir, cfg)
    descriptions = _new_job_descriptions(spark, before)
    assert not [x for x in descriptions if x.startswith(f"wave={final + 1} ")], descriptions
    assert resumed["waves"] == [] and resumed["final_wave"] == final
    assert resumed["total_attempted"] == summary["total_attempted"]
    store = WaveStore(spark, store_dir)
    assert store.committed_waves() == [0, 1, 2, 3]
    assert {r.url for r in store.read_table("frontier_delta").select("url").collect()} == seen


def test_max_pages_crawl_starts_no_trailing_wave(spark, small_site, tmp_path):
    """A crawl that spends its max_pages budget stops after the wave that
    spent it, with URLs still pending: no reload or step for the next."""
    _, d = small_site
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(d, "seeds.parquet"))
    store_dir = str(tmp_path / "store")
    before = _job_ids(spark)
    summary = run_crawl(
        spark, pages, seeds, store_dir, CrawlConfig(max_depth=3, max_pages=6, use_bloom=False)
    )
    descriptions = _new_job_descriptions(spark, before)
    store = WaveStore(spark, store_dir)
    final = summary["final_wave"]
    assert final == store.last_wave() and summary["total_attempted"] == 6
    frontier = sum(store.marker(w)["counts"]["frontier_delta"] for w in store.committed_waves())
    assert frontier > 6  # URLs are still pending
    assert not [x for x in descriptions if x.startswith(f"wave={final + 1} ")], descriptions


def test_resume_recounts_markers_without_metrics_row(spark, small_site, tmp_path):
    """A marker written before markers carried the metrics row has no
    n_attempted: the resume recounts the attempted keys instead of
    assuming 0, and re-attempts nothing."""
    import json

    _, d = small_site
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = pages.select("url").limit(2)
    store_dir = str(tmp_path / "store")
    cfg = CrawlConfig(max_depth=1, use_bloom=False)
    first = run_crawl(spark, pages, seeds, store_dir, cfg)
    store = WaveStore(spark, store_dir)
    n_results = store.read_table("results").count()
    for w in store.committed_waves():
        path = store._marker_path(w)
        with open(path) as fh:
            marker = json.load(fh)
        for k in ("wave", "n_attempted", "n_throttled", "n_new_frontier", "wall_sec"):
            del marker["meta"][k]
        with open(path, "w") as fh:
            json.dump(marker, fh)
    resumed = run_crawl(spark, pages, seeds, store_dir, cfg)
    assert resumed["total_attempted"] == first["total_attempted"] == n_results
    assert resumed["waves"] == []
    assert WaveStore(spark, store_dir).read_table("results").count() == n_results


def _tiny_site(spark):
    def page(body):
        return f"<html><head><title>t</title></head><body>{body}</body></html>".encode()

    s = "http://tiny.test"
    rows = [
        (f"{s}/", page(f'<p>spark index</p><a href="{s}/a">spark streaming</a>'
                       f'<a href="{s}/b">cooking</a>')),
        (f"{s}/a", page("<p>spark structured streaming watermark state</p>")),
        (f"{s}/b", page("<p>banana bread flour sugar</p>")),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_adaptive_url_frames_plan_no_python_rdd(spark, tmp_path, monkeypatch):
    """The seed frame and every wave's selection are JVM literals: no
    frame handed to the fetch plans an ExistingRDD (a createDataFrame of
    a list runs a Python-RDD job when it is built)."""
    plans, urls = [], []
    original = adaptive._fetch_and_extract

    def spy(pages, urls_df, wave):
        plans.append(urls_df._jdf.queryExecution().executedPlan().toString())
        urls.append(sorted(r.url for r in urls_df.collect()))
        return original(pages, urls_df, wave)

    monkeypatch.setattr(adaptive, "_fetch_and_extract", spy)
    res = adaptive.adaptive_digest(
        spark, _tiny_site(spark), "http://tiny.test/", "spark streaming",
        str(tmp_path / "st"),
        adaptive.AdaptiveConfig(top_k_links=1, max_depth=2, confidence_threshold=1.0,
                                saturation_threshold=1.01, min_gain_threshold=0.0),
    )
    assert urls[:2] == [["http://tiny.test/"], ["http://tiny.test/a"]]
    assert len(plans) == res.depth_reached + 1
    assert not [p for p in plans if "ExistingRDD" in p], plans


def test_adaptive_reads_its_scalars_from_the_markers(spark, tmp_path, monkeypatch):
    """The digest's loop and result take their scalars from the commit
    markers: the metrics table is read once, for the returned frame, and
    the returned scalars equal its last row."""
    read = []
    original = WaveStore.read_table

    def spy(self, name, *args, **kwargs):
        read.append(name)
        return original(self, name, *args, **kwargs)

    monkeypatch.setattr(WaveStore, "read_table", spy)
    state_dir = str(tmp_path / "st")
    cfg = adaptive.AdaptiveConfig(top_k_links=1, max_depth=2, confidence_threshold=1.0,
                                  saturation_threshold=1.01, min_gain_threshold=0.0)
    res = adaptive.adaptive_digest(
        spark, _tiny_site(spark), "http://tiny.test/", "spark streaming", state_dir, cfg
    )
    assert read.count("metrics") == 1
    last = res.metrics.collect()[-1]
    assert (res.depth_reached, res.pages_crawled) == (last.wave, last.pages_crawled)
    assert res.confidence == pytest.approx(last.confidence)
    assert res.pages_crawled == res.knowledge_base.count() == len(res.crawl_order)
    store = WaveStore(spark, state_dir)
    for r in res.metrics.collect():
        meta = store.marker(r.wave)["meta"]
        assert {k: meta[k] for k in r.asDict()} == r.asDict()
