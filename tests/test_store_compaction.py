"""WaveStore compaction/vacuum — the Iceberg rewrite-data-files +
expire-snapshots analog for long crawls (small-files problem)."""
import os

from pyspark.sql import functions as F

from crawl4ai_spark.frontier.store import COMPACT_DIR, TABLES_DIR, WaveStore
from tests.conftest import spark  # noqa: F401


def _write_waves(spark, root, n_waves, rows_per_wave=10):  # noqa: F811
    store = WaveStore(spark, root)
    for w in range(n_waves):
        df = spark.range(w * rows_per_wave, (w + 1) * rows_per_wave).select(
            F.col("id").alias("url_fp"),
            F.concat(F.lit("http://h.test/p"), F.col("id")).alias("url"),
            F.lit(w).alias("wave"),
        )
        store.write_wave(w, {"results": df})
    return store


def _collected(store):
    return sorted(
        (r.url_fp, r.url, r.wave) for r in store.read_table("results").collect()
    )


def test_compact_preserves_read_and_folds_incrementally(spark, tmp_path):  # noqa: F811
    store = _write_waves(spark, str(tmp_path / "s"), 4)
    before = _collected(store)

    m = store.compact("results", upto=2)
    assert m["upto"] == 2 and m["rows"] == 30
    assert sorted(m["folded_waves"]) == [0, 1, 2]
    assert os.path.isdir(os.path.join(str(tmp_path / "s"), COMPACT_DIR, "results", "upto=2"))
    # default read = snapshot + tail delta (wave 3), content identical
    assert _collected(store) == before
    # explicit wave addressing still hits the delta dirs
    assert store.read_table("results", waves=[1]).count() == 10

    # new waves after compaction are visible without recompacting
    df = spark.range(40, 50).select(
        F.col("id").alias("url_fp"),
        F.concat(F.lit("http://h.test/p"), F.col("id")).alias("url"),
        F.lit(4).alias("wave"),
    )
    store.write_wave(4, {"results": df})
    assert store.read_table("results").count() == 50

    # re-compact folds prev snapshot + new deltas only
    m2 = store.compact("results")
    assert m2["upto"] == 4 and m2["rows"] == 50
    assert sorted(m2["folded_waves"]) == [0, 1, 2, 3, 4]
    assert store.read_table("results").count() == 50
    # idempotent when nothing new
    assert store.compact("results")["compacted_at"] == m2["compacted_at"]


def test_vacuum_reclaims_folded_dirs_reads_survive(spark, tmp_path):  # noqa: F811
    root = str(tmp_path / "s")
    store = _write_waves(spark, root, 3)
    before = _collected(store)
    store.compact("results", upto=1)
    store.compact("results", upto=2)  # supersedes upto=1
    removed = store.vacuum("results")
    # wave dirs 0..2 and the superseded upto=1 snapshot are gone
    assert len(removed) == 4
    for w in range(3):
        assert not os.path.exists(os.path.join(root, TABLES_DIR, "results", f"wave={w}"))
    assert not os.path.exists(os.path.join(root, COMPACT_DIR, "results", "upto=1"))
    assert _collected(store) == before
    # a fresh reader (new store handle) sees the same data
    assert _collected(WaveStore(spark, root)) == before


def test_compact_reduces_file_count(spark, tmp_path):  # noqa: F811
    root = str(tmp_path / "s")
    store = WaveStore(spark, root)
    for w in range(6):
        df = spark.range(w * 100, (w + 1) * 100).repartition(8).select(
            F.col("id").alias("url_fp"), F.lit(w).alias("wave")
        )
        store.write_wave(w, {"results": df})

    def n_parquet_files():
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            if "staging" in dirpath:
                continue
            total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    files_before = n_parquet_files()
    store.compact("results")
    store.vacuum("results")
    assert store.read_table("results").count() == 600
    # 6 waves × 8 files → a single ~tiny snapshot file
    assert n_parquet_files() < files_before
    assert n_parquet_files() == 1


def test_orphan_compact_dir_without_marker_is_ignored(spark, tmp_path):  # noqa: F811
    """Crash between snapshot rename and marker write: the orphan dir is
    invisible (marker IS the commit point) and the retry overwrites it."""
    root = str(tmp_path / "s")
    store = _write_waves(spark, root, 2)
    before = _collected(store)
    # simulate: snapshot dir exists, no marker
    orphan = os.path.join(root, COMPACT_DIR, "results", "upto=1")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert store.compact_marker("results") is None
    assert _collected(store) == before  # reader ignores the orphan
    m = store.compact("results", upto=1)  # retry overwrites it
    assert m["rows"] == 20
    assert _collected(store) == before


def test_compact_empty_table_and_crawl_store_end_to_end(spark, tmp_path):  # noqa: F811
    """Compaction over a real crawl loop's store: results and
    frontier_delta fold without changing what resume-style readers see."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    d = str(tmp_path / "site")
    write_site_parquet(generate_site(n_hosts=2, cats=2, prods=3, seed=7), d)
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = pages.select("url").limit(2)
    store_dir = str(tmp_path / "crawl_store")
    run_crawl(spark, pages, seeds, store_dir, CrawlConfig(max_depth=2, use_bloom=False))

    store = WaveStore(spark, store_dir)
    res_before = sorted(r.url for r in store.read_table("results").collect())
    fr_before = sorted(r.url for r in store.read_table("frontier_delta").collect())
    for t in ("results", "frontier_delta", "metrics", "lineage"):
        if store.read_table(t) is not None:
            store.compact(t)
            store.vacuum(t)
    assert sorted(r.url for r in store.read_table("results").collect()) == res_before
    assert sorted(r.url for r in store.read_table("frontier_delta").collect()) == fr_before


def test_compact_upto_beyond_committed_raises(spark, tmp_path):  # noqa: F811
    import pytest

    store = _write_waves(spark, str(tmp_path / "s"), 2)
    with pytest.raises(ValueError, match="beyond the last committed"):
        store.compact("results", upto=999)


def test_vacuum_only_removes_folded_waves(spark, tmp_path):  # noqa: F811
    root = str(tmp_path / "s")
    store = _write_waves(spark, root, 4)
    store.compact("results", upto=1)
    removed = store.vacuum("results")
    assert len(removed) == 2  # waves 0 and 1 only
    for w in (2, 3):
        assert os.path.exists(os.path.join(root, TABLES_DIR, "results", f"wave={w}"))
    assert store.read_table("results").count() == 40


def test_resume_survives_metrics_vacuum(spark, tmp_path, monkeypatch):  # noqa: F811
    """A resume of a store whose metrics dirs were compacted and vacuumed
    takes total_attempted from the commit markers, never reads the
    metrics table, and re-attempts nothing."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    d = str(tmp_path / "site")
    write_site_parquet(generate_site(n_hosts=2, cats=2, prods=3, seed=7), d)
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = pages.select("url").limit(2)
    store_dir = str(tmp_path / "crawl_store")
    cfg = CrawlConfig(max_depth=1, use_bloom=False)
    first = run_crawl(spark, pages, seeds, store_dir, cfg)

    store = WaveStore(spark, store_dir)
    n_before = store.read_table("results").count()
    store.compact("metrics")
    store.vacuum("metrics")
    read = []
    original = WaveStore.read_table
    monkeypatch.setattr(
        WaveStore,
        "read_table",
        lambda self, name, *a, **kw: read.append(name) or original(self, name, *a, **kw),
    )
    # resume on the vacuumed store: no crash, nothing re-attempted
    summary = run_crawl(spark, pages, seeds, store_dir, cfg)
    assert "metrics" not in read
    assert summary["total_attempted"] == first["total_attempted"] == n_before
    assert WaveStore(spark, store_dir).read_table("results").count() == n_before
    assert summary["waves"] == [] or all(
        w.get("n_attempted", 0) == 0 for w in summary["waves"]
    )


def test_compaction_soak_random_schedules(spark, tmp_path):  # noqa: F811
    """Seeded-random interleavings of write/compact/vacuum: the default
    read must always equal the append-only history, whatever the
    maintenance schedule."""
    import random

    rng = random.Random(20260817)
    for trial in range(3):
        root = str(tmp_path / f"s{trial}")
        store = WaveStore(spark, root)
        expect = []
        wave = 0
        for _step in range(rng.randint(6, 10)):
            op = rng.choice(["write", "write", "write", "compact", "vacuum"])
            if op == "write":
                lo = wave * 7
                rows = [(lo + i, wave) for i in range(rng.randint(0, 5))]
                df = spark.createDataFrame(
                    rows or [(None, None)], "url_fp long, wave int"
                )
                if not rows:
                    df = df.where("url_fp is not null")
                store.write_wave(wave, {"results": df})
                expect += rows
                wave += 1
            elif op == "compact" and store.committed_waves():
                upto = rng.choice(store.committed_waves())
                store.compact("results", upto=upto)
            elif op == "vacuum":
                store.vacuum("results")
        got = (
            sorted((r.url_fp, r.wave) for r in store.read_table("results").collect())
            if store.read_table("results") is not None
            else []
        )
        assert got == sorted(expect), f"trial {trial}"


def test_compact_on_finish_config_and_resume(spark, tmp_path):  # noqa: F811
    """CrawlConfig(compact_on_finish=True): the finished store is folded
    (one snapshot per delta table, wave dirs vacuumed) and a resume run
    on it neither crashes nor re-attempts anything."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    d = str(tmp_path / "site")
    write_site_parquet(generate_site(n_hosts=2, cats=2, prods=3, seed=7), d)
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = pages.select("url").limit(2)
    store_dir = str(tmp_path / "crawl_store")
    cfg = CrawlConfig(max_depth=1, use_bloom=True, compact_on_finish=True)
    summary = run_crawl(spark, pages, seeds, store_dir, cfg)
    assert summary["compacted"]["results"] > 0

    store = WaveStore(spark, store_dir)
    n_results = store.read_table("results").count()
    # wave dirs folded away, snapshot present
    assert not os.path.exists(
        os.path.join(store_dir, TABLES_DIR, "results", "wave=0")
    )
    assert os.path.isdir(os.path.join(store_dir, COMPACT_DIR, "results"))
    # resume over the compacted store
    summary2 = run_crawl(spark, pages, seeds, store_dir, cfg)
    assert WaveStore(spark, store_dir).read_table("results").count() == n_results


def test_read_and_compact_merge_mixed_wave_schemas(spark, tmp_path):
    """A store written before a schema-widening change (results growing
    new columns) must surface the widest schema on union reads and
    compaction, with nulls for the missing columns — not silently drop
    them based on whichever footer Spark infers from."""
    from crawl4ai_spark.frontier.store import WaveStore

    store = WaveStore(spark, str(tmp_path / "store"))
    narrow = spark.createDataFrame([(1, "http://a/")], "url_fp long, url string")
    wide = spark.createDataFrame(
        [(2, "http://b/", "<p>b</p>")], "url_fp long, url string, cleaned_html string"
    )
    store.write_table("results", 0, narrow)
    store.commit(0)
    store.write_table("results", 1, wide)
    store.commit(1)

    got = store.read_table("results")
    assert "cleaned_html" in got.columns
    rows = {r.url_fp: r for r in got.collect()}
    assert rows[1].cleaned_html is None and rows[2].cleaned_html == "<p>b</p>"

    store.compact("results")
    got2 = store.read_table("results")
    assert "cleaned_html" in got2.columns
    rows2 = {r.url_fp: r for r in got2.collect()}
    assert rows2[1].cleaned_html is None and rows2[2].cleaned_html == "<p>b</p>"


def test_write_lineage_from_footers_matches_partition_rows(spark, tmp_path):
    """write_lineage derives per-partition lineage driver-side from the
    written wave's parquet footers (zero Spark jobs): rows_out must sum to
    the wave's row count and map 1:1 to the non-empty written partitions."""
    store = WaveStore(spark, str(tmp_path / "s"))
    df = spark.range(100).select(
        F.col("id").alias("url_fp"),
        F.concat(F.lit("http://h.test/p"), F.col("id")).alias("url"),
    ).repartition(4)
    store.write_table("results", 0, df)
    store.write_lineage(0, "results")
    marker = store.commit(0)

    lin = store.read_table("lineage").collect()
    assert marker["counts"]["lineage"] == len(lin)
    assert sum(r.rows_out for r in lin) == 100
    assert all(r.wave == 0 and r.table == "results" for r in lin)
    assert len({r.partition_id for r in lin}) == len(lin)  # distinct partitions
    assert all(r.rows_out > 0 for r in lin)  # empty partitions absent


def test_write_table_reader_schema_equals_inferred(spark, tmp_path):  # noqa: F811
    """write_table returns a reader with the written schema given, which
    must be the schema inference gives: non-nullable top-level, struct
    and array fields all read back nullable."""
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("url_fp", LongType(), False),
            StructField(
                "head",
                StructType(
                    [
                        StructField("title", StringType(), False),
                        StructField("inner", StructType([StructField("n", LongType(), False)]), False),
                    ]
                ),
                False,
            ),
            StructField("links", ArrayType(StringType(), False), False),
        ]
    )
    df = spark.createDataFrame([(1, ("t", (2,)), ["a"]), (2, ("u", (3,)), [])], schema)
    assert not df.schema["url_fp"].nullable
    store = WaveStore(spark, str(tmp_path / "s"))
    reader = store.write_table("results", 0, df)
    inferred = spark.read.parquet(store._staging_path("results", 0)).schema
    assert reader.schema == inferred
    assert sorted(reader.collect()) == sorted(spark.read.parquet(store._staging_path("results", 0)).collect())


def test_write_lineage_starts_no_spark_job(spark, tmp_path):  # noqa: F811
    """write_lineage records its fixed schema without a Spark read: no job
    runs, and the recorded schema is the one Spark reads back."""
    store = WaveStore(spark, str(tmp_path / "s"))
    store.write_table("results", 0, spark.range(10).repartition(2))
    sc = spark.sparkContext
    group = "write-lineage-no-job"
    sc.setJobGroup(group, "write_lineage")
    try:
        store.write_lineage(0, "results")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are delivered async
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    marker = store.commit(0)
    read = spark.read.parquet(store._table_path("lineage", 0)).schema
    assert marker["schemas"]["lineage"] == read.json()


def test_commit_marker_records_schemas_and_uniform_read_skips_mergeschema(
    spark, tmp_path, monkeypatch
):
    """The commit marker records each table's schema; a store whose waves
    all share one recorded schema must take the plain-read path (no
    distributed mergeSchema footer sweep — per-wave read cost must not
    grow with wave count)."""
    store = _write_waves(spark, str(tmp_path / "s"), 3)
    for w in range(3):
        assert "results" in store.marker(w).get("schemas", {})
    schemas = {store.marker(w)["schemas"]["results"] for w in range(3)}
    assert len(schemas) == 1

    import pyspark.sql.readwriter as rw

    calls = []
    orig = rw.DataFrameReader.option

    def spy(self, key, value):
        calls.append(key)
        return orig(self, key, value)

    monkeypatch.setattr(rw.DataFrameReader, "option", spy)
    assert store.read_table("results").count() == 30
    assert "mergeSchema" not in calls


def test_pre_schema_marker_store_still_merge_reads(spark, tmp_path):
    """Markers written by older code carry no 'schemas' key — unknown
    schemas must take the mergeSchema path so a widened store still
    surfaces the new columns."""
    import json

    store = WaveStore(spark, str(tmp_path / "s"))
    narrow = spark.createDataFrame([(1, "http://a/")], "url_fp long, url string")
    wide = spark.createDataFrame(
        [(2, "http://b/", "<p>b</p>")], "url_fp long, url string, cleaned_html string"
    )
    store.write_wave(0, {"results": narrow})
    store.write_wave(1, {"results": wide})
    # simulate an old store: strip the schema records from both markers
    for w in (0, 1):
        p = store._marker_path(w)
        with open(p) as fh:
            m = json.load(fh)
        m.pop("schemas", None)
        with open(p, "w") as fh:
            json.dump(m, fh)
    store._markers.clear()

    got = store.read_table("results")
    assert "cleaned_html" in got.columns
    rows = {r.url_fp: r for r in got.collect()}
    assert rows[1].cleaned_html is None and rows[2].cleaned_html == "<p>b</p>"


def test_compact_every_folds_mid_crawl_same_results(spark, tmp_path):
    """CrawlConfig(compact_every=2): the in-loop-read delta tables fold
    every 2 committed waves; the crawl's results and frontier are
    identical to an uncompacted run, the read tail stays bounded, and a
    resume over the mid-compacted store re-attempts nothing."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    d = str(tmp_path / "site")
    write_site_parquet(generate_site(n_hosts=3, cats=2, subs=2, prods=3, seed=11), d)
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = pages.select("url").limit(1)

    def crawl(subdir, **kw):
        sd = str(tmp_path / subdir)
        # deep-narrow shape: tight budget forces many small waves
        run_crawl(
            spark, pages, seeds, sd,
            CrawlConfig(max_depth=6, max_waves=10, use_bloom=True, default_budget=2, **kw),
        )
        return sd

    plain = crawl("plain")
    folded = crawl("folded", compact_every=2)

    def snap(sd):
        st = WaveStore(spark, sd)
        res = {(r.url, r.status) for r in st.read_table("results").collect()}
        fr = {r.url_fp for r in st.read_table("frontier_delta").collect()}
        return res, fr, st

    res_p, fr_p, _ = snap(plain)
    res_f, fr_f, store_f = snap(folded)
    assert res_p == res_f and fr_p == fr_f

    # mid-crawl compaction actually happened and bounded the tail
    cm = store_f.compact_marker("results")
    assert cm is not None and cm["upto"] >= 1
    tail = [w for w in store_f.committed_waves() if w > cm["upto"]]
    assert len(tail) <= 2

    # resume over the mid-compacted store: nothing new attempted
    n_before = store_f.read_table("results").count()
    run_crawl(
        spark, pages, seeds, folded,
        CrawlConfig(max_depth=6, max_waves=10, use_bloom=True, default_budget=2, compact_every=2),
    )
    assert WaveStore(spark, folded).read_table("results").count() == n_before
