"""Streaming surface: batch equivalence + results-table tailing."""

import os

from pyspark.sql import functions as F


def test_windowed_events_stream_equals_batch(spark, tmp_path):
    import shutil

    from crawl4ai_spark.streaming.stream import run_windowed_events_batch_equivalent

    # the streaming file source tails a DIRECTORY of files
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", events_dir / "part-0.parquet")
    streamed, batch = run_windowed_events_batch_equivalent(
        spark, str(events_dir), str(tmp_path / "ckpt")
    )
    assert streamed == batch
    assert len(batch) > 0


def test_results_stream_tails_wave_commits(spark, site_dir, tmp_path):
    """Crawl the fixture site, then tail the results table as a stream —
    the streamed rows must equal the batch read."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore
    from crawl4ai_spark.streaming.stream import results_stream

    store_dir = str(tmp_path / "store_stream")
    pages = spark.read.parquet(os.path.join(site_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(site_dir, "seeds.parquet"))
    run_crawl(spark, pages, seeds, store_dir, CrawlConfig(max_depth=2, content_mode="links", use_bloom=False))

    stream = results_stream(spark, store_dir).select("url", "wave", "status")
    query = (
        stream.writeStream.format("memory")
        .queryName("results_tail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    streamed = {(r.url, r.wave, r.status) for r in spark.sql("SELECT * FROM results_tail").collect()}
    batch = {
        (r.url, r.wave, r.status)
        for r in WaveStore(spark, store_dir).read_table("results").select("url", "wave", "status").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_results_stream_matches_batch_and_hides_staging(spark, site_dir, tmp_path):
    """readStream over the results table must see exactly the committed
    rows (availableNow drain ≡ batch read), and an in-flight staged wave
    must be invisible to both readers until commit renames it in."""
    import os

    from pyspark.sql import functions as F

    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore
    from crawl4ai_spark.streaming.stream import results_stream

    pages = spark.read.parquet(os.path.join(site_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(site_dir, "seeds.parquet"))
    store_dir = str(tmp_path / "store_stream")
    run_crawl(spark, pages, seeds, store_dir, CrawlConfig(max_depth=1, use_bloom=False))

    store = WaveStore(spark, store_dir)
    batch = store.read_table("results")
    n_committed = batch.count()
    assert n_committed > 0

    # stage an extra wave WITHOUT committing: no reader may see it
    extra = batch.limit(3).withColumn("url", F.concat(F.lit("http://staged.test/"), F.col("url")))
    store.write_table("results", 9999, extra)
    assert store.read_table("results").count() == n_committed

    q = (
        results_stream(spark, store_dir)
        .writeStream.format("memory")
        .queryName("results_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = spark.sql("SELECT url, wave, status FROM results_stream_test")
    assert streamed.count() == n_committed
    assert streamed.where(F.col("url").startswith("http://staged.test/")).count() == 0
    want = {(r.url, r.status) for r in batch.select("url", "status").collect()}
    got = {(r.url, r.status) for r in streamed.select("url", "status").collect()}
    assert got == want

    # commit the staged wave: the restarted stream now includes it
    store.commit(9999)
    q2 = (
        results_stream(spark, store_dir)
        .writeStream.format("memory")
        .queryName("results_stream_test2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.sql("SELECT * FROM results_stream_test2").count() == n_committed + 3


def test_streaming_dedup_first_seen_across_microbatches(spark, tmp_path):
    """Cross-micro-batch dedup: a key arriving again in a LATER batch is
    dropped by the state store (this is what the batch anti-join cannot
    do for a live stream). Two parquet files + maxFilesPerTrigger=1 force
    two micro-batches."""
    from crawl4ai_spark.streaming.stream import streaming_dedup_first_seen

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("b", "2024-01-01 00:00:10")],
        "url_fp string, ts string",
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [("b", "2024-01-01 00:01:00"), ("c", "2024-01-01 00:01:05")],
        "url_fp string, ts string",
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("url_fp string, ts string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    deduped = streaming_dedup_first_seen(stream, ("url_fp",), ts_col="ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = [r.url_fp for r in spark.sql("SELECT url_fp FROM dedup_stream_test").collect()]
    assert sorted(got) == ["a", "b", "c"]  # b exactly once despite 2 arrivals

    # batch path is the oracle: same operator, same answer
    batch = spark.read.parquet(str(src / "*"))
    got_batch = [r.url_fp for r in streaming_dedup_first_seen(batch, ("url_fp",)).collect()]
    assert sorted(got_batch) == ["a", "b", "c"]


def test_host_running_totals_stateful(spark, tmp_path):
    """applyInPandasWithState keyed state accumulates across micro-batches:
    the last emitted row per host carries the whole-stream cumulative totals."""
    from crawl4ai_spark.streaming.stream import host_running_totals

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [("h1", 100), ("h1", 50), ("h2", 10)], "host string, n_bytes long"
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [("h1", 7), ("h3", 1)], "host string, n_bytes long"
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("host string, n_bytes long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        host_running_totals(stream)
        .writeStream.format("memory")
        .queryName("host_totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql(
        "SELECT host, max(n_pages) AS n, max(total_bytes) AS b "
        "FROM host_totals_test GROUP BY host"
    ).collect()
    got = {r.host: (r.n, r.b) for r in rows}
    assert got == {"h1": (3, 157), "h2": (1, 10), "h3": (1, 1)}


def test_quality_gates_stream_equals_batch(spark, tmp_path):
    """The quality batteries are map-only column algebra, so they run
    unchanged over a streaming source: C4 line cleaning + Gopher scalar
    signals over a streamed documents dir must equal the batch result.
    (The full gopher battery's repetition family aggregates per doc and
    would need a stateful sink — the scalar signals are the streaming
    fast path, the same split the engine documents.)"""
    import shutil

    from crawl4ai_spark.operators.quality_filters import (
        c4_line_filter,
        gopher_scalar_signals,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet", docs_dir / "part-0.parquet")
    batch_df = spark.read.parquet(str(docs_dir))
    schema = batch_df.schema
    stream_src = spark.readStream.schema(schema).parquet(str(docs_dir))

    def run(df_src):
        # the two batteries run as separate sinks (a doc_id join of the
        # two would be stream-stream); each is a pure projection
        c4 = c4_line_filter(df_src).select("doc_id", "n_lines_kept", "c4_keep")
        sig = gopher_scalar_signals(df_src).select("doc_id", "word_count", "stopword_count")
        return c4, sig

    c4_s, sig_s = run(stream_src)
    for i, df in enumerate((c4_s, sig_s)):
        (
            df.writeStream.format("memory")
            .queryName(f"qgate_{i}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{i}"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )
    c4_b, sig_b = run(batch_df)
    got_c4 = {tuple(r) for r in spark.sql("SELECT * FROM qgate_0").collect()}
    got_sig = {tuple(r) for r in spark.sql("SELECT * FROM qgate_1").collect()}
    assert got_c4 == {tuple(r) for r in c4_b.collect()}
    assert got_sig == {tuple(r) for r in sig_b.collect()}
    assert len(got_c4) == 500
