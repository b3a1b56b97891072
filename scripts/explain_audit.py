"""Physical-plan audit: print `.explain("formatted")` for the engine's key
plans and grep-check the properties we design for (pushed filters, pruned
scans, broadcast joins, WholeStageCodegen, hash vs sort aggregates).

Usage: python scripts/explain_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "pricing_summary": [
        ("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate", "filter pushed to parquet scan"),
        ("HashAggregate", "hash aggregation (map-side partial)"),
        ("AdaptiveSparkPlan", "AQE enabled (runtime re-plan / skew handling)"),
    ],
    "star_join_battery": [
        ("BroadcastHashJoin", "dim sides broadcast — lineitem never shuffles (both legs)"),
        ("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate", "Q14 date range pushed to parquet scan"),
        ("ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double,l_discount:double>", "Q5 fact scan pruned to 3 of 11 cols"),
        ("HashAggregate", "partial agg before the group-by exchange"),
    ],
    "lm_logscore": [
        ("!BatchEvalPython", "Stupid Backoff scoring is pure column algebra"),
        ("HashAggregate", "gram counts = partial+final hash aggs"),
        ("!windowspecdefinition", "context grams come off the token array — no per-doc window/sort"),
        ("AdaptiveSparkPlan", "AQE handles hot-gram join skew at scale (type agg + scoring join share the (w2,w1,w) hash key)"),
    ],
    "relational_battery": [
        ("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>", "top-k leg: column-pruned orders scan (3 of 6 cols)"),
        ("Window", "top-k leg: rank window"),
        ("LeftAnti", "no-orders leg: anti-join"),
        ("ReadSchema: struct<o_custkey:bigint>", "no-orders leg: orders scan pruned to the join key"),
        ("Union", "legs unioned narrow — no extra shuffle for the merge"),
    ],
    "bpe_tokenize": [
        ("MapInPandas", "Arrow encode runs on the deduplicated vocabulary frame only"),
        ("BroadcastHashJoin", "piece counts broadcast back — the exploded corpus never shuffles for the join"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", "pruned documents scan"),
    ],
    "ann_topk_battery": [
        ("TakeOrderedAndProject", "global top-k without full sort (both legs)"),
    ],
    "recrawl_priority": [
        ("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id", "visit synth filter pushed to the parquet scan"),
        ("HashAggregate", "per-url history partials (map-side combine) — 100 TB of visits is one shuffle of 4 numeric partials"),
        ("BroadcastNestedLoopJoin", "the single global 'now' row broadcast, never a shuffle"),
        ("!windowspecdefinition", "estimator is closed-form column algebra, no windows"),
        ("!BatchEvalPython", "no Python anywhere in the estimate"),
    ],
    "pdf_extract": [
        ("MapInPandas", "parse->decode->extract as one Arrow-batched pass"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF"),
        ("!Window", "page explode inside the pandas iterator, no rank windows"),
    ],
    "term_df_top20": [
        ("HashAggregate", "tf/df hash agg"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", "pruned scan"),
    ],
    "regex_catalog": [
        ("regexp_extract_all", "JVM-side regex (no Python in the match path)"),
        ("!ArrowEvalPython", "no pandas UDF on the native path"),
        ("PushedFilters: [IsNotNull(event_id), LessThan(event_id,300)]", "id filter pushed to scan"),
    ],
    "chunking_battery": [
        ("!Exchange", "all four chunkers map-only; the union is narrow (zero shuffle)"),
        ("!ArrowEvalPython", "closed-form segment arithmetic, no Python"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", "pruned scan"),
    ],
    "token_budget_sample": [
        ("ReadSchema: struct<doc_id:bigint,text:string,source:string>", "scan pruned to 3 of 5 cols"),
        ("HashAggregate", "per-(source,bucket) token sums = partial+final hash aggs"),
        ("BroadcastHashJoin", "bucket offsets broadcast back — corpus rows never shuffle for the join"),
        ("Join condition: ((_off", "boundary-sliver predicate fused into the join, BEFORE the window exchange — only ~1/256 of rows reach the running-sum sort"),
        ("NULLS FIRST, _key", "running-sum sort runs at (source, bucket) grain, never one task per source"),
        ("!BatchEvalPython", "pure column algebra"),
        ("!ArrowEvalPython", "no pandas UDF"),
    ],
    "dsir_selection": [
        ("TakeOrderedAndProject", "global top-200 without a window or full sort"),
        ("HashAggregate", "gram-bucket counts = partial+final hash aggs"),
        ("BroadcastHashJoin", "B-row log-ratio table broadcast to the weight agg"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", "weight-path scans pruned to 2 of 5 cols"),
        ("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]", "target-corpus filter pushed to its parquet scan"),
        ("!BatchEvalPython", "pure column algebra"),
        ("!ArrowEvalPython", "no pandas UDF"),
    ],
    "pack_sequences": [
        ("ReadSchema: struct<doc_id:bigint,text:string>", "scan pruned to 2 of 5 cols"),
        ("HashAggregate", "per-bucket stream sums = partial+final hash aggs"),
        ("BroadcastHashJoin", "256-row bucket-offset frame broadcast back"),
        ("NULLS FIRST, _key", "global running sum windowed at bucket grain — never one corpus-wide task"),
        ("Generate", "chunk fan-out is one sequence explode, closed-form arithmetic"),
        ("!BatchEvalPython", "pure column algebra"),
    ],
    "exact_substring_dedup": [
        ("xxhash64", "token hashed once; sliding gram keys are chained xxhash64 folds — the site shuffle carries 8-byte keys, never gram strings"),
        ("HashAggregate", "global-first keeper = min(struct(id,pos)) hash agg with map-side partials"),
        ("array_except", "token keep-list rebuilt per doc as a hash-set difference — O(n), no per-token exists() scan"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
        ("!MapInPandas", "whole operator is native column algebra"),
        ("!Window", "no corpus-wide rank window — keeper selection is an aggregation"),
    ],
    "media_extraction": [
        ("ArrowEvalPython", "scrape stage as one Arrow UDF pass"),
        ("ReadSchema: struct<doc_id:bigint", "pruned scan"),
    ],
    "schema_extract_nested": [
        ("BroadcastHashJoin", "region dim broadcast"),
    ],
    "cache_revalidation": [
        ("FullOuter", "single full-outer join on url"),
    ],
    "link_preview_scores": [
        ("HashAggregate", "BM25 corpus stats (df/dl/avg) as hash aggs"),
        ("BroadcastNestedLoopJoin", "1-row corpus constants broadcast, not shuffled"),
        ("ArrowEvalPython", "head extraction as one Arrow UDF pass"),
    ],
    "ngram_jaccard_pairs": [
        ("REPARTITION_BY_NUM", "raw docs repartitioned by id BEFORE the shingle explode — tokenizer runs cluster-wide and the lead window needs no second exchange (text bytes shuffled, not token rows)"),
        ("xxhash64", "shingle hashing JVM-side — no Python in the hot path"),
        ("array_sort", "prefix index = native array_sort+slice inside the ONE packed per-doc aggregation (verify sets + prefix from the same collect)"),
        ("!row_number", "no rank window in the prefix path — the r4 rewrite replaced window sort + second agg + set_size re-join"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
    ],
    "gopher_quality": [
        ("REPARTITION_BY_NUM", "docs repartitioned by doc_id BEFORE the explodes — parallelizes few-split scans AND pre-satisfies the lead window (no extra exchange)"),
        ("posexplode", "tokens explode ONCE; all 9 gram sizes derive from the same window lead columns (kgram_rows shape — 2x faster than per-size struct arrays)"),
        ("lead(h0", "gram assembly via window lead over 12-byte (token-hash, length) pairs, partition-local sort only"),
        ("xxhash64(h0", "gram keys are chained hashes of per-token hashes — gram strings are never built, and the frequency shuffle carries 16 bytes per key"),
        ("HashAggregate", "per-(doc,kind,key) frequencies partial-agg; branch-separate line/gram aggregation inherits the doc_id partitioning so the exploded rows are never exchanged"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
        ("!MapInPandas", "whole battery is native column algebra — zero Python even batched"),
        ("!row_number", "no rank windows: top-gram cover is a packed-long max (fixed-width buffer keeps the rollup a HashAggregate)"),
        ("!SortAggregate", "no sort-based aggregates — the struct max_by that demoted the rollup to SortAggregate (+Sort+Exchange) is gone"),
    ],
    "c4_filtered": [
        ("!Exchange", "line filtering is map-only: zero shuffles"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
    ],
    "decontamination": [
        ("BroadcastHashJoin", "benchmark gram set broadcast — the training-side shingle rows never shuffle for the overlap join"),
        ("xxhash64", "both sides reduce to 8-byte shingle hashes JVM-side"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
    ],
    "pii_redaction": [
        ("regexp_replace", "redaction chain is native regexp_replace"),
        ("!Exchange", "map-only projection: zero shuffles"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
        ("!MapInPandas", "zero Python even batched"),
    ],
    "minhash_lsh_pairs": [
        ("REPARTITION_BY_NUM", "shared shingle pipeline: repartition-before-explode (same as ngram)"),
        ("MapInPandas", "signature reduction is one Arrow-batched numpy stage"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF anywhere"),
    ],
    "llm_extract_blocks": [
        ("MapInPandas", "one Arrow-batched stage — completion client inits per partition, prompts batched per Arrow batch"),
        ("!Exchange", "map-only: chunking, prompting, and parsing shuffle nothing"),
        ("!BatchEvalPython", "no row-at-a-time Python UDF"),
    ],
    "events_battery": [
        ("windowspecdefinition(user_id", "session window partitioned per user — never a global window"),
        ("HashAggregate", "per-session/hourly rollups as hash aggs"),
        ("!ArrowEvalPython", "pure column algebra"),
    ],
    "ccnet_corpus": [
        ("xxhash64", "paragraph-dedup key is the 8-byte hash of the normalized paragraph"),
        ("ObjectHashAggregate", "per-doc reconstruction bounded by the doc's own paragraph count"),
        ("windowspecdefinition(lang_pred", "cumulative-fraction window runs on the (lang, bucket) histogram frame only"),
        ("!BatchEvalPython", "zero Python rows"),
    ],
    "quality_classifier": [
        ("ObjectHashAggregate", "per-doc bucket vector collected sorted — fixed-order float fold"),
        ("!BatchEvalPython", "scoring is pure column algebra; training is bounded off-plan"),
        ("!CartesianProduct", "never an all-pairs product"),
    ],
    "funnel_view_click_purchase": [
        ("ObjectHashAggregate", "ONE shuffle: per-user ts-sorted collect of the funnel events"),
        ("aggregate(", "chain computed as a single fold over the sorted array"),
        ("!InMemoryTableScan", "no persisted intermediates (old shape leaked one cache entry per step)"),
        ("!windowspecdefinition", "windowless"),
        ("!ArrowEvalPython", "pure column algebra"),
    ],
    "winnow_fingerprints": [
        ("REPARTITION_BY_NUM", "shared kgram_rows front end: repartition-before-explode"),
        ("HashAggregate", "distinct fingerprint set as hash agg"),
        ("!ArrowEvalPython", "md5 + window minima JVM-side"),
    ],
    "span_substring_dedup": [
        ("Generate", "native posexplode of the span arrays (no Python tokenizer)"),
        ("!ArrowEvalPython", "whole pipeline JVM-side"),
        ("SortAggregate", "keeper = min(struct(id,pos)) with map-side partial (one row per span per map partition crosses the wire)"),
    ],
    "dup_clusters": [
        ("Scan ExistingRDD", "converged edge set is localCheckpoint-ed — final labeling does not replay the star rounds"),
        ("windowspecdefinition(component", "n_members = count window over component — scalar rows, no per-cluster collect_list"),
        ("!collect_list", "no unbounded cluster-membership arrays anywhere in the plan"),
        ("!ObjectHashAggregate", "no object-hash collect aggregation"),
        ("!ArrowEvalPython", "pure JVM"),
    ],
    "link_graph_battery": [
        ("Scan ExistingRDD", "O(1) lineage — each PageRank/HITS iteration reads the previous checkpoint, not the replayed chain (the HITS normalizing max is a 1-row aggregate broadcast inside those checkpointed jobs, never a global window)"),
        ("!Window", "no global window anywhere in the final join"),
        ("!ArrowEvalPython", "rank/hub/authority arithmetic native"),
    ],
    "token_stats": [
        ("regexp_extract_all", "GPT-2 pre-tokenizer as JVM regex (regexp_count compiles to size(regexp_extract_all))"),
        ("!ArrowEvalPython", "no Python in the token path"),
        ("!Exchange", "map-only (zero shuffle)"),
        ("ReadSchema: struct<doc_id:bigint,text:string>", "pruned scan"),
    ],
    "curated_corpus": [
        ("!ArrowEvalPython", "quality/langid gates are pure column algebra (CurationPipeline folds them into one projection)"),
        ("HashAggregate", "keep-first dedup as min(doc_id) hash agg"),
        ("LeftOuter", "the pipeline keeper's id-only tag join (AQE broadcasts the keep set here; fail_stage NULL-filter prunes after)"),
    ],
}


def _pending_frame(spark, n=100_000, hosts=97):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("http://h"), (F.col("id") % hosts).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("url_fp"),
        F.concat(F.lit("h"), (F.col("id") % hosts).cast("string")).alias("host"),
        (F.col("id") % 5).cast("int").alias("depth"),
        (F.col("id") % 13).cast("double").alias("score"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("enqueue_wave"),
        F.lit("").alias("path_key"),
    )


def _revisit_seeds_plan(spark, sf_dir):
    """Not a queries() entry: the recrawl queue's budget cut must compile
    to a per-partition partial top-k (TakeOrderedAndProject), never a
    global sort shuffle."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.recrawl import revisit_seeds

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).where(
        F.col("doc_id") < 400
    )
    visits = docs.select(
        F.concat(F.lit("http://c.test/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 13.0).alias("visit_ts"),
        (F.col("doc_id") % 3 == 0).alias("changed"),
    )
    return revisit_seeds(visits, budget=100)


def _politeness_cap_plan(spark, sf_dir):
    """Not a queries() entry: wave selection with a max_pages cap — one
    window partitioned by host, then Spark's own top-k
    (TakeOrderedAndProject); nothing funnels the frontier through one
    partition."""
    from crawl4ai_spark.operators.politeness import rank_by_host_budget

    return rank_by_host_budget(_pending_frame(spark), None, 50, global_limit=1000)


def _topk_elided_plan(spark, sf_dir):
    """Count-elision case: candidate count (from footer-derived hints) fits
    k — the top-k is the input itself: no Window, no Sort."""
    from crawl4ai_spark.operators.politeness import global_top_k, wave_order

    return global_top_k(_pending_frame(spark), wave_order(), 10**9, n_rows=100_000)


def _topk_large_k_plan(spark, sf_dir):
    """Large-k case (k above ``SMALL_K_MAX``, lowered here so a small frame
    takes it): exact distributed range rank — the filter reads the
    persisted range-sorted layout (InMemoryTableScan) and computes the
    global rank from driver prefix sums; no window of ANY kind."""
    from crawl4ai_spark.operators import politeness

    small_k_max = politeness.SMALL_K_MAX
    politeness.SMALL_K_MAX = 100
    try:
        return politeness.global_top_k(
            _pending_frame(spark, n=20_000), politeness.wave_order(), 2_000
        )
    finally:
        politeness.SMALL_K_MAX = small_k_max


EXTRA_PLANS = {
    "recrawl_revisit_seeds": (
        _revisit_seeds_plan,
        [
            ("TakeOrderedAndProject", "budget cut is a partial top-k, never a global sort shuffle"),
            ("!BatchEvalPython", "estimator + priority are pure column algebra"),
            ("!windowspecdefinition", "no window anywhere in the queue build"),
        ],
    ),
    "politeness_cap": (
        _politeness_cap_plan,
        [
            ("windowspecdefinition(host#", "the per-host rank is partitioned by host"),
            ("TakeOrderedAndProject", "the max_pages cap is Spark's top-k, not a global window"),
            ("!SinglePartition", "no window without a partition key (it would need a single-partition exchange)"),
        ],
    ),
    "global_topk_elided": (
        _topk_elided_plan,
        [
            ("!Window", "no window when candidates fit k"),
            ("!Sort", "no sort either — the input passes through"),
        ],
    ),
    "global_topk_large_k_range_rank": (
        _topk_large_k_plan,
        [
            ("InMemoryTableScan", "persisted range-sorted layout reused (offsets job + filter share it)"),
            ("!windowspecdefinition", "no window on the large-k path — rank = prefix[pid] + offset"),
        ],
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from crawl4ai_spark.session import get_spark

    spark = get_spark(app_name="explain_audit", master="local[4]", shuffle_partitions=8)
    queries = entrymod.queries()
    print("# PLANS — physical-plan audit of headline operators\n")
    print("Generated by `python scripts/explain_audit.py`; the assertions under")
    print("each plan are the properties the engine is designed around\n")
    failures = []

    def run_checks(name, plan, checks):
        print(f"\n## {name}\n\n```\n{plan}\n```\n")
        for needle, why in checks:
            if needle.startswith("!"):
                ok = needle[1:] not in plan
            else:
                ok = needle in plan
            print(f"- {'✅' if ok else '❌'} {why} (`{needle[:60]}`)")
            if not ok:
                failures.append((name, needle))

    for name, checks in CHECKS.items():
        # registry-merged legs (battery rows) keep their standalone plan
        # audit via the private builder, same play as bench.py
        fn = queries.get(name) or getattr(entrymod, f"_q_{name}")
        run_checks(name, plan_of(fn(spark, sf_dir)), checks)
    for name, (builder, checks) in EXTRA_PLANS.items():
        run_checks(name, plan_of(builder(spark, sf_dir)), checks)
    spark.stop()
    if failures:
        print(f"\nFAILED CHECKS: {failures}", file=sys.stderr)
        return 1
    print("\nAll plan checks hold.", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
