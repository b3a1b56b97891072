"""Adaptive crawling — the reference's ``AdaptiveCrawler.digest()``.

Semantic contract: ``crawl4ai/adaptive_crawler.py`` — the digest loop
(:1330-1471), ``StatisticalStrategy`` confidence / link ranking /
stopping (:301-546) and state bookkeeping (:548-612), and
``AdaptiveConfig``'s statistical knobs (:154-176). The crawler expands
from a seed URL toward a QUERY, wave by wave, until it is *confident*
the knowledge base answers the query:

- confidence  = 0.4·coverage + 0.3·consistency + 0.3·saturation
  (``operators/bm25.py`` — the same oracle-pinned aggregates)
- link score  = w_r·relevance + w_n·novelty + w_a·1.0, relevance the
  query-term overlap of the anchor text/title, novelty the fraction of
  anchor terms unseen in the knowledge base (authority is the constant
  1.0 — the reference's ``_calculate_authority`` is disabled at :425-426)
- stops on: confidence ≥ θ, max_pages, empty frontier, saturation ≥ θs,
  best expected gain < min_gain_threshold, or max_depth waves
  (checked in exactly the reference's order, ``should_stop`` :527-546)

Spark posture
-------------
The knowledge base, discovered-link set, seen-term vocabulary and
per-wave metrics live as append-only parquet tables in a ``WaveStore``
(the same atomic marker-commit + recover machinery as the bulk
frontier), so ``digest`` is killable and resumable like ``run_crawl``.
Every statistic is a hash aggregation / (anti-)join over those tables —
nothing iterates the knowledge base in the driver — so the loop works
the same at the reference's 20-page default and at a 10⁶-page knowledge
base; the per-wave scalars (confidence, stop checks) are driver-side by
the reference's own semantics. Fetch = broadcast join of the ≤ top_k
selected URLs against the pages table; extraction is the engine's
byte-parity ``udf_full_extract`` (content = ``markdown.raw_markdown``,
exactly the field the reference scores, :563).

Documented deviations (each keeps the decision semantics, drops the
serial/quadratic machinery):

- new-terms history is per WAVE (top-k batch), not per document: the
  reference appends one entry per crawled page in arrival order
  (:589-591), an ordering a batch engine would have to fake.
- consistency is the deterministic seeded-MinHash estimator
  (``operators/bm25.consistency_stats``) instead of the exact O(n²)
  driver-side mean pairwise Jaccard (:369-394).
- tokenization is the engine-wide ``clean_terms_col`` contract
  ([a-z0-9] runs, len > 2); the reference keeps ``\\w`` word chars.
- duplicate pending links collapse to one candidate per (href, text,
  title); the reference ranks every inserted instance and can spend
  top-k slots on duplicates of one URL.
- failed fetches are NOT marked crawled (the reference's semantics,
  :1421-1424) — dead links may be re-selected, and like the reference
  the loop is bounded by max_depth, not by attempt bookkeeping.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from crawl4ai_spark.extraction.udfs import udf_full_extract
from crawl4ai_spark.frontier.store import WaveStore
from crawl4ai_spark.operators.bm25 import (
    confidence as combine_confidence,
    consistency_stats,
    coverage_stats,
    saturation_stat,
)
from crawl4ai_spark.operators.textstats import clean_terms_col

_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType()),
        T.StructField("n_new_docs", T.IntegerType()),
        T.StructField("new_terms", T.IntegerType()),
        T.StructField("pages_crawled", T.IntegerType()),
        T.StructField("coverage", T.DoubleType()),
        T.StructField("consistency", T.DoubleType()),
        T.StructField("saturation", T.DoubleType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)

_KB_SCHEMA = "url string, text string, wave int"


def _clean_tokens(text: str) -> list[str]:
    """Driver-side twin of ``clean_terms_col`` (query tokenization)."""
    cleaned = re.sub(r"[^a-z0-9 ]", "", text.lower())
    return [t for t in cleaned.split() if len(t) > 2]


@dataclass
class AdaptiveConfig:
    """Statistical-strategy knobs of the reference ``AdaptiveConfig``
    (:154-176); embedding/LLM strategy knobs are out of scope (no model
    service in the contract — the statistical strategy is the
    reference's own no-LLM default)."""

    confidence_threshold: float = 0.7
    max_depth: int = 5
    max_pages: int = 20
    top_k_links: int = 3
    min_gain_threshold: float = 0.1
    saturation_threshold: float = 0.8
    coverage_weight: float = 0.4
    consistency_weight: float = 0.3
    saturation_weight: float = 0.3
    relevance_weight: float = 0.5
    novelty_weight: float = 0.3
    authority_weight: float = 0.2

    def validate(self) -> None:
        assert 0 <= self.confidence_threshold <= 1
        assert self.max_depth > 0 and self.max_pages > 0 and self.top_k_links > 0
        assert 0 <= self.min_gain_threshold <= 1
        assert abs(self.coverage_weight + self.consistency_weight + self.saturation_weight - 1.0) < 1e-3
        assert abs(self.relevance_weight + self.novelty_weight + self.authority_weight - 1.0) < 1e-3


@dataclass
class DigestResult:
    """Return value of ``adaptive_digest`` (the reference returns its
    ``CrawlState``; the relational analog returns the state TABLES)."""

    knowledge_base: DataFrame
    metrics: DataFrame
    confidence: float
    stop_reason: str
    pages_crawled: int
    depth_reached: int
    crawl_order: list[str] = field(default_factory=list)


def _fetch_and_extract(pages: DataFrame, urls_df: DataFrame, wave: int) -> tuple[DataFrame, DataFrame]:
    """(kb_rows, link_rows) for the selected URLs. Success = the page
    exists in the pages table and (when a status_code column exists) has
    a 2xx/NULL status — the batch analog of ``result.success``."""
    fetched = pages.join(F.broadcast(urls_df), "url")
    if "status_code" in fetched.columns:
        fetched = fetched.where(
            F.col("status_code").isNull() | F.col("status_code").between(200, 299)
        )
    ext = fetched.select("url", udf_full_extract("html", "url").alias("e"))
    kb_rows = ext.select(
        "url",
        F.coalesce(F.col("e.markdown.raw_markdown"), F.lit("")).alias("text"),
        F.lit(wave).alias("wave"),
    )
    link_rows = ext.select(
        F.col("url").alias("parent_url"), F.explode("e.links.internal").alias("l")
    ).select(
        F.col("l.href").alias("href"),
        F.col("l.text").alias("text"),
        F.col("l.title").alias("title"),
        "parent_url",
        F.lit(wave).alias("wave"),
    )
    return kb_rows, link_rows


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of a DDL schema, planned in the JVM (an empty
    createDataFrame would run a Python-RDD job)."""
    fields = T.StructType.fromDDL(schema).fields
    return spark.range(0).select(*(F.lit(None).cast(f.dataType).alias(f.name) for f in fields))


def _urls(spark: SparkSession, urls: list[str]) -> DataFrame:
    """A ``url string`` frame of ``urls``, planned in the JVM from
    literals (createDataFrame of a list runs a Python-RDD job)."""
    return spark.range(1).select(F.explode(F.array(*map(F.lit, urls))).alias("url"))


def _commit_wave(
    store: WaveStore,
    wave: int,
    kb_rows: DataFrame,
    link_rows: DataFrame,
    query_terms: list[str],
    config: AdaptiveConfig,
    new_terms_history: list[int],
    meta: dict,
) -> dict:
    """Append one wave's kb/link/seen-term deltas, recompute the post-wave
    statistics, and atomically commit. Returns the metrics row as a dict."""
    kb_delta = store.write_table("kb", wave, kb_rows)
    links_delta = store.write_table("links", wave, link_rows)

    # new vocabulary: terms of the new docs minus everything already seen
    # (one explode + distinct + anti-join — the incremental-fold posture;
    # the full corpus is never re-tokenized)
    delta_terms = (
        kb_delta.select(F.explode(clean_terms_col(F.col("text"))).alias("term"))
        .distinct()
    )
    prev_seen = store.read_table("seen_terms")
    if prev_seen is not None:
        delta_terms = delta_terms.join(prev_seen.select("term"), "term", "left_anti")
    seen_delta = store.write_table(
        "seen_terms", wave, delta_terms.withColumn("wave", F.lit(wave))
    )

    n_new_docs = store.pending_count(wave, "kb")
    n_new_terms = store.pending_count(wave, "seen_terms")
    # the wave is still staged (read_table sees committed waves only):
    # stats run over committed ∪ this wave's written delta
    prev_kb = store.read_table("kb")
    kb = prev_kb.unionByName(kb_delta) if prev_kb is not None else kb_delta
    pages_crawled = n_new_docs + sum(
        store.marker(w)["counts"].get("kb", 0) for w in store.committed_waves()
    )

    if pages_crawled == 0:
        cov = cons = sat = conf = 0.0  # reference: empty KB → confidence 0.0
        history = new_terms_history
    else:
        if n_new_docs > 0:
            history = new_terms_history + [n_new_terms]
        else:
            # no successful fetch: the reference appends no history entry
            history = new_terms_history
        cov = coverage_stats(kb, query_terms, id_col="url", text_col="text")
        cons = consistency_stats(kb, id_col="url", text_col="text")
        sat = saturation_stat(history)
        conf = (
            config.coverage_weight * cov
            + config.consistency_weight * cons
            + config.saturation_weight * sat
        )
    row = {
        "wave": wave,
        "n_new_docs": n_new_docs,
        "new_terms": n_new_terms if n_new_docs > 0 else None,
        "pages_crawled": pages_crawled,
        "coverage": cov,
        "consistency": cons,
        "saturation": sat,
        "confidence": conf,
    }
    metrics = pa.Table.from_pylist([row], to_arrow_schema(_METRICS_SCHEMA))
    store.write_rows("metrics", wave, metrics)
    store.commit(wave, dict(meta, **row))
    return row


def rank_pending_links(
    links: DataFrame,
    crawled_urls: DataFrame,
    seen_terms: DataFrame | None,
    query_terms: list[str],
    config: AdaptiveConfig,
    kb_empty: bool,
) -> DataFrame:
    """Expected-gain ranking of the pending frontier
    (``adaptive_crawler.py:413-496``) as pure column algebra:

    relevance = |query ∩ anchor terms| / |query|   (0 for empty anchors)
    novelty   = |anchor terms ∖ seen| / |anchor terms|
                (1.0 when the KB is empty, 0.5 for empty anchors)
    score     = w_r·relevance + w_n·novelty + w_a·1.0

    One distinct on the candidate text, one explode + anti-join for the
    novelty numerator, then a per-href max — no windows, no Python.
    Returns (href, expected_gain) sorted desc, href asc.
    """
    pending = links.join(crawled_urls.withColumnRenamed("url", "href"), "href", "left_anti")
    cand = pending.select("href", "text", "title").distinct()
    cand = cand.withColumn(
        "terms",
        F.array_distinct(clean_terms_col(F.concat_ws(" ", F.coalesce("text", F.lit("")), F.coalesce("title", F.lit(""))))),
    )
    q = sorted(set(query_terms))
    n_q = max(len(q), 1)
    relevance = F.when(F.size("terms") == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect("terms", F.lit(list(q)))) / F.lit(float(n_q))
        if q
        else F.lit(0.0)
    )
    if kb_empty:
        novelty = F.lit(1.0)
    else:
        exploded = cand.select("href", "text", "title", F.explode("terms").alias("term"))
        if seen_terms is not None:
            new_cnt = (
                exploded.join(seen_terms.select("term"), "term", "left_anti")
                .groupBy("href", "text", "title")
                .agg(F.count("*").alias("n_new"))
            )
        else:
            new_cnt = exploded.groupBy("href", "text", "title").agg(F.count("*").alias("n_new"))
        cand = cand.join(new_cnt, ["href", "text", "title"], "left")
        novelty = F.when(F.size("terms") == 0, F.lit(0.5)).otherwise(
            F.coalesce(F.col("n_new"), F.lit(0)) / F.size("terms")
        )
    scored = cand.select(
        "href",
        (
            F.lit(config.relevance_weight) * relevance
            + F.lit(config.novelty_weight) * novelty
            + F.lit(config.authority_weight) * F.lit(1.0)
        ).alias("expected_gain"),
    )
    return (
        scored.groupBy("href")
        .agg(F.max("expected_gain").alias("expected_gain"))
        .orderBy(F.desc("expected_gain"), F.asc("href"))
    )


def adaptive_digest(
    spark: SparkSession,
    pages: DataFrame,
    start_url: str,
    query: str,
    state_dir: str,
    config: AdaptiveConfig | None = None,
    resume: bool = False,
) -> DigestResult:
    """The digest loop (``adaptive_crawler.py:1330-1471``): seed fetch,
    then up to ``max_depth`` expansion waves of the top-k
    highest-expected-gain links, stopping per ``should_stop``.

    ``resume=True`` re-enters a killed digest from its WaveStore exactly
    (the reference's ``resume_from`` state file): committed waves are
    never redone, the metrics history reloads from the commit markers.
    """
    config = config or AdaptiveConfig()
    config.validate()
    query_terms = _clean_tokens(query)

    store = WaveStore(spark, state_dir)
    if resume:
        store.recover()
    history: list[int] = []
    if resume:
        metas = (store.marker(w)["meta"] for w in store.committed_waves())
        history = [m["new_terms"] for m in metas if m["new_terms"] is not None]

    last_wave = store.last_wave()
    if last_wave is None:
        # initial crawl (:1368-1383)
        kb_rows, link_rows = _fetch_and_extract(pages, _urls(spark, [start_url]), 0)
        row = _commit_wave(
            store, 0, kb_rows, link_rows, query_terms, config, history,
            meta={"kind": "adaptive_seed", "start_url": start_url, "query": query},
        )
        if row["n_new_docs"] > 0:
            history.append(row["new_terms"])
        last_wave = 0

    stop_reason = "max_depth"
    while True:
        m = store.marker(last_wave)["meta"]
        kb = store.read_table("kb")
        kb_urls = kb.select("url").distinct() if kb is not None else _empty(spark, "url string")
        pages_crawled = m["pages_crawled"]

        # should_stop, in the reference's exact order (:527-546)
        if m["confidence"] >= config.confidence_threshold:
            stop_reason = "confidence"
            break
        if pages_crawled >= config.max_pages:
            stop_reason = "max_pages"
            break
        if last_wave >= config.max_depth:  # while-loop bound (:1389)
            stop_reason = "max_depth"
            break
        links = store.read_table("links")
        pending_n = (
            links.join(kb_urls.withColumnRenamed("url", "href"), "href", "left_anti").count()
            if links is not None
            else 0
        )
        if pending_n == 0:
            stop_reason = "frontier_exhausted"
            break
        if m["saturation"] >= config.saturation_threshold:
            stop_reason = "saturation"
            break

        ranked = rank_pending_links(
            links,
            kb_urls,
            store.read_table("seen_terms"),
            query_terms,
            config,
            kb_empty=pages_crawled == 0,
        )
        top = ranked.limit(config.top_k_links).collect()  # ≤ top_k rows
        if not top:
            stop_reason = "frontier_exhausted"
            break
        if top[0].expected_gain < config.min_gain_threshold:
            stop_reason = "min_gain"
            break

        wave = last_wave + 1
        kb_rows, link_rows = _fetch_and_extract(pages, _urls(spark, [r.href for r in top]), wave)
        row = _commit_wave(
            store, wave, kb_rows, link_rows, query_terms, config, history,
            meta={
                "kind": "adaptive_wave",
                "selected": [r.href for r in top],
                "best_gain": top[0].expected_gain,
            },
        )
        if row["n_new_docs"] > 0:
            history.append(row["new_terms"])
        last_wave = wave

    kb = store.read_table("kb")
    if kb is None:
        kb = _empty(spark, _KB_SCHEMA)
    final = store.marker(last_wave)["meta"]
    # convenience mirror of the reference's CrawlState.crawl_order —
    # bounded: beyond 10k pages read the kb table (wave column) instead
    crawl_order = (
        [r.url for r in kb.orderBy("wave", "url").collect()]
        if final["pages_crawled"] <= 10_000
        else []
    )
    return DigestResult(
        knowledge_base=kb,
        metrics=store.read_table("metrics").orderBy("wave"),
        confidence=float(final["confidence"]),
        stop_reason=stop_reason,
        pages_crawled=final["pages_crawled"],
        depth_reached=final["wave"],
        crawl_order=crawl_order,
    )
