"""The batch-iterated crawl loop — one step → commit loop over politeness waves.

Semantics ported from the reference's level-synchronous deep crawl
(``crawl4ai/deep_crawling/bfs_strategy.py:207-301`` batch BFS,
``:133-205`` link discovery with visited-set dedup, score threshold,
max_depth and max-pages capacity trim), re-expressed as the SURVEY.md §3.3
flagship loop:

    prefetch(seeds, robots rules, budgets, prior)   # cached on the pool
    while pending:
        repeat depth_band times:                    # one _step per wave
            wave    = politeness_rank(pending)      # window per host
            gated   = robots(wave)                  # compiled rules, broadcast join
            fetched = gated ⋈ pages on url          # the "fetch"
            res     = extract(fetched)              # Arrow UDFs
            links   = explode → canonical → first-wins  # discovery
            fresh   = links ▷ seen                  # bloom + exact anti-join
        commit(results, frontier_delta, bloom, host_state, metrics, lineage)
        state   = reload(store)                     # _load_state

The frames that live for the whole crawl are persisted at its start and
filled on the loop's thread pool, one job each, while the driver plans
the first wave. Every job is described ``wave=<w> phase=<p>``
(``prefetch.<frame>``, ``step``, ``extract``, ``write.<table>``,
``bloom``, ``reload``, ``compact``); the metrics row and lineage are
written on the driver, without a job.

An unbanded crawl is a band of 1, and the band size picks the strategy.
A band of 1 only persists its frames: the commit's results and
host_state writes run concurrently with the discover+frontier write, and
the wave's counts come from the written parquet footers. A band of k > 1
checkpoints and counts every step, because the next step's pending set,
budget and host state depend on it, and pays the commit, bloom build,
metrics, lineage and reload once per band.

Intra-wave order is pinned by the deterministic total key
(score desc, depth asc, url asc) — the reference's intra-level order is
completion-order-dependent, so parity is defined on per-wave URL *sets*
plus this documented total order (SURVEY.md §4 item 5).

Scale posture: exactly 3 shuffles per wave on the links-only path —
(1) repartition(host) feeding the politeness window and every host-grouped
agg, (2) the discovery dedup/anti-join keyed on url_fp, (3) the bloom
shard build. The pages join is a join on url (co-partitioned with the
frontier's bucketing at cluster scale; AQE handles the local case).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawl4ai_spark.functions.fingerprint import url_fingerprint
from crawl4ai_spark.functions.urlnorm import host_col
from crawl4ai_spark.extraction.udfs import udf_extract_links, udf_full_extract, lang_col
from crawl4ai_spark.operators.bloom import bloom_prefilter, build_bloom_shards
from crawl4ai_spark.operators.politeness import (
    dfs_order,
    fair_wave_order,
    global_top_k,
    rank_by_host_budget,
    update_host_state,
    wave_order,
)
from crawl4ai_spark.operators.antibot import blocked_reason_col
from crawl4ai_spark.operators.robots import compile_robots, robots_gate
from crawl4ai_spark.frontier.store import WaveStore

VALID_URL_RE = r"^https?://[^/]*\.[^/]*"

FRONTIER_COLS = ["url", "url_fp", "host", "depth", "score", "parent_url", "enqueue_wave", "path_key"]


@dataclass
class CrawlConfig:
    max_depth: int = 3
    max_pages: int | None = None
    max_waves: int = 1000
    score_threshold: float | None = None
    default_budget: int = 1_000_000
    include_external: bool = True
    # content pipeline per fetched page (reference async_webcrawler.py
    # :783,825-877 default flow):
    #   "links"  — anchors only (cheap frontier expansion; the prefetch
    #              fast path)
    #   "full"   — raw html → markdown + head (content_source="raw_html")
    #   "scrape" — the reference DEFAULT: scraping battery → cleaned_html
    #              → markdown, plus media/tables and scored rich links
    #              (content_source="cleaned_html"); results rows carry
    #              the full CrawlResult surface (models.py:130-164)
    content_mode: str = "links"
    # kwargs for the scrape battery (excluded_tags, css_selector,
    # include_tables, ... — extraction.scrape.scrape_page options)
    scrape_options: dict = field(default_factory=dict)
    # attach fit_markdown (PruningContentFilter) to every result row, as
    # the reference does when a content filter is configured
    # (async_webcrawler.py:871-877); "full" mode filters raw html,
    # "scrape" mode filters cleaned_html
    fit_markdown: bool = False
    # crawl query: drives per-link contextual BM25 scores + the 0.7/0.3
    # total-score blend inside the scrape UDF (utils.py:3459-3504)
    query: str | None = None
    # best-first from the scrape battery's own link scores: discovered
    # URLs inherit coalesce(total_score, intrinsic_score) as priority
    # (requires content_mode="scrape"; reference link-preview-driven
    # best-first). Takes effect only when no explicit scorer is set.
    score_from_links: bool = False
    # content-level anti-bot detection (operators/antibot.py, the
    # reference antibot_detector.is_blocked ladder): fetched pages that
    # are challenge shells / block pages / structurally-empty renders take
    # the throttled path — recorded, never extracted, requeued under the
    # host's RateLimiter backoff exactly like a 429 (the batch analogue of
    # the reference's detect → fallback-refetch flow)
    detect_blocked: bool = False
    # fold each delta table's wave dirs into one sized snapshot when the
    # crawl finishes (WaveStore.compact + vacuum) — a 10^4-wave crawl
    # otherwise leaves 10^4 tiny parquet dirs per table. Post-loop only:
    # vacuum deletes files a live wave's lazy plans may still reference.
    compact_on_finish: bool = False
    # fold the in-loop-read delta tables (frontier_delta, results,
    # seen_bloom) into one snapshot every K committed waves. The per-wave
    # state reload unions snapshot + tail deltas, so without this a
    # 10^4-wave crawl pays O(N) dir listings per wave (O(N^2) total);
    # compact_every=K bounds the tail at K dirs. Compaction only — never
    # mid-crawl vacuum (external readers / streaming tails may still
    # reference folded wave dirs). Each fold rewrites snapshot+tail, so
    # cumulative rewrite bytes are O(N^2/K): right for deep-NARROW
    # crawls (small waves, many of them); leave None for wide crawls.
    compact_every: int | None = None
    use_bloom: bool = True
    n_bloom_shards: int = 16
    bloom_fpp: float = 0.01
    user_agent: str = "*"
    # traversal strategy: "bfs" (level order) or "dfs" (preorder via
    # lexicographic path keys — exact DFS when the wave size is 1, a
    # parallel-DFS approximation otherwise; SURVEY §2.3)
    strategy: str = "bfs"
    # best-first mode: a compiled scorer (url Column -> score Column), e.g.
    # crawl4ai_spark.operators.scorers.composite_scorer(...); None = BFS
    # (constant score 1.0, pure depth order)
    scorer: object | None = None
    # anchor-context best-first: (url_col, text_col, title_col) -> score
    # Column (e.g. scorers.anchor_keyword_scorer). Takes precedence over
    # ``scorer``; drives priority from anchor text like the reference's
    # link intrinsic/total score (utils.py:3344-3504).
    text_scorer: object | None = None
    # starvation-free best-first: add this much effective score per wave a
    # URL waits in the frontier (reference fairness re-prioritization,
    # async_dispatcher.py:471-528). None = pure reference-parity order.
    fairness_boost: float | None = None
    # depth-band wave coalescing: the number of politeness waves ("steps")
    # per committed store wave; 1/None = the band of 1, the default, which
    # commits every wave. A band of k runs up to k steps before one commit,
    # so the per-wave fixed overhead (commit, bloom build, metrics,
    # lineage, state reload — ~2.5 s measured, BENCH/WAVE_OVERHEAD.md)
    # amortizes over the band. Every step is an EXACT politeness wave
    # (same per-host budget, rank order, max_pages cap and backoff tick),
    # so any band size selects the identical URL multiset; only the store's
    # wave numbering coalesces (every step in a band is labelled with the
    # band's wave index; intra-band order stays determined by the
    # (score desc, depth asc, url asc) key + depth column). max_waves
    # counts STEPS, not commits, so the equality also holds when max_waves
    # truncates the crawl mid-frontier; resume restarts at a band boundary
    # with the step count reloaded from the markers' ``band_steps``. Steps
    # of k > 1 keep their narrow frames checkpointed until the band
    # commits, so size bands for the narrow waves of deep-NARROW crawls,
    # the only shape that needs them.
    depth_band: int | None = None
    # memory-adaptive wave sizing (operators.dispatch
    # .MemoryAdaptiveGovernor) — the Spark analog of the reference's
    # MemoryAdaptiveDispatcher (async_dispatcher.py:148-208): between
    # waves the driver samples memory, waits out critical pressure, and
    # shrinks/regrows the next wave's global row cap. Unselected rows
    # stay pending, so the final URL-seen set is unchanged.
    memory_governor: object | None = None
    # link-graph authority prior for best-first crawling: a small
    # (host, prior) frame — e.g. graph.host_authority_prior over a
    # previous crawl's edges — broadcast-joined onto every discovered
    # candidate, adding ``host_prior_weight * prior`` to its score
    # BEFORE score_threshold (an authoritative host can rescue a URL the
    # base scorer alone would drop). Hosts are bounded (a registrable-
    # domain universe, not a URL universe), so the broadcast is the
    # right join shape at any corpus size; the OPIC/IRLbot family of
    # frontier prioritization re-expressed as one map-side join.
    host_prior: object | None = None
    host_prior_weight: float = 1.0


def _prepare_seeds(seeds: DataFrame, need_path_keys: bool = False) -> DataFrame:
    """Normalize a seeds(url[, priority]) frame into frontier schema.

    ``need_path_keys``: only the DFS strategy orders by path keys, and
    ranking every seed through an unpartitioned window serializes wave 0
    (a 10^6-seed bench start sorts the whole list in ONE task) — so the
    seed rank is computed only when DFS asks for it; BFS/best-first carry
    an empty root key (child keys still concatenate fine)."""
    df = seeds
    if "priority" not in df.columns:
        df = df.withColumn("priority", F.lit(1.0))
    df = (
        df.select(
            F.col("url"),
            url_fingerprint("url").alias("url_fp"),
            host_col(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.col("priority").cast("double").alias("score"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(0).alias("enqueue_wave"),
        )
        .where(F.col("url").rlike(VALID_URL_RE))
    )
    if need_path_keys:
        # DFS path key root: zero-padded rank of the seed in url order
        # (DFS is a small-scale correctness surface; the exact global rank
        # is acceptable there and never runs for BFS/best-first)
        seed_rank = F.row_number().over(Window.orderBy("url"))
        df = df.withColumn("path_key", F.lpad(seed_rank.cast("string"), 6, "0"))
    else:
        df = df.withColumn("path_key", F.lit(""))
    # dedup by fingerprint (all columns derive from url): a sort
    # aggregation, a Sort on each side of the exchange, because min_by
    # over a struct of strings has no fixed-width buffer for a hash agg
    row = F.struct("url", "host", "depth", "score", "parent_url", "enqueue_wave", "path_key")
    return (
        df.groupBy("url_fp")
        .agg(F.min_by(row, F.col("url")).alias("r"))
        .select("url_fp", "r.*")
        .select(*FRONTIER_COLS)
    )


def _wave_work(fetched: DataFrame, mode: str, config: CrawlConfig) -> DataFrame:
    """ONE pass over the heavy ``html`` column → a narrow reusable frame.

    Everything downstream (results assembly, discovery, host outcomes) runs
    off this persisted narrow projection — the html bytes are decoded and
    parsed exactly once per wave, and the cached frame carries no payload.
    The extraction UDF tolerates the null html of non-fetched rows (returns
    empty structs), which are then masked to NULL.
    """
    is_fetched = F.col("status") == "fetched"
    html_in = F.when(is_fetched, F.col("html"))  # skip parsing denied/missing rows
    fit_col = F.lit(None).cast("string")
    if mode == "links":
        df = fetched.withColumn("links_raw", udf_extract_links(html_in, F.col("url")))
        extract_col = F.lit(None).cast("string").alias("extract")  # placeholder, pruned
        df = df.withColumn("extract", extract_col)
        if config.fit_markdown:
            # links mode has no cleaned_html; filter raw html like "full"
            from crawl4ai_spark.extraction.udfs import udf_fit_markdown

            fit_col = udf_fit_markdown(html_in)
    elif mode == "scrape":
        from crawl4ai_spark.extraction.udfs import make_scrape_udf

        misplaced = {"query", "fit", "fit_markdown"} & set(config.scrape_options)
        if misplaced:
            raise ValueError(
                f"scrape_options {sorted(misplaced)} belong on CrawlConfig "
                "itself (CrawlConfig.query / CrawlConfig.fit_markdown), not "
                "in scrape_options"
            )
        scrape = make_scrape_udf(
            query=config.query, fit=config.fit_markdown, **config.scrape_options
        )
        df = fetched.withColumn("extract_raw", scrape(html_in, F.col("url")))
        df = df.withColumn("links_raw", F.col("extract_raw.links")).withColumn(
            "extract", F.when(is_fetched, F.col("extract_raw"))
        )
        fit_col = F.col("extract.fit_markdown")
    else:
        df = fetched.withColumn("extract_raw", udf_full_extract(html_in, F.col("url")))
        df = df.withColumn("links_raw", F.col("extract_raw.links")).withColumn(
            "extract", F.when(is_fetched, F.col("extract_raw"))
        )
        if config.fit_markdown:
            from crawl4ai_spark.extraction.udfs import udf_fit_markdown

            fit_col = udf_fit_markdown(html_in)
    return df.select(
        *FRONTIER_COLS,
        "status",
        F.when(is_fetched, lang_col(F.col("html"))).alias("lang"),
        F.when(is_fetched, F.col("links_raw")).alias("links"),
        "extract",
        fit_col.alias("fit_markdown"),
    )


def _result_rows(work: DataFrame, wave: int, mode: str) -> DataFrame:
    """Assemble the results-table rows for one wave (stable schema: the
    CrawlResult surface of models.py:130-164 — modes that don't produce a
    column carry it as a typed NULL so every crawl's results table unions
    cleanly)."""
    from crawl4ai_spark.extraction.udfs import MEDIA_SCHEMA, RICH_LINKS_SCHEMA

    if mode == "links":
        extract_cols = [
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("raw_markdown"),
            F.lit(None).cast("string").alias("markdown_with_citations"),
            F.lit(None).cast("string").alias("references_markdown"),
        ]
    else:
        extract_cols = [
            F.col("extract.head.title").alias("title"),
            F.col("extract.markdown.raw_markdown").alias("raw_markdown"),
            F.col("extract.markdown.markdown_with_citations").alias("markdown_with_citations"),
            F.col("extract.markdown.references_markdown").alias("references_markdown"),
        ]
    if mode == "scrape":
        scrape_cols = [
            F.col("extract.cleaned_html").alias("cleaned_html"),
            F.col("extract.media").alias("media"),
            F.col("links").alias("links"),
            F.col("extract.success").alias("scrape_success"),
        ]
    else:
        scrape_cols = [
            F.lit(None).cast("string").alias("cleaned_html"),
            F.lit(None).cast(MEDIA_SCHEMA).alias("media"),
            F.lit(None).cast(RICH_LINKS_SCHEMA).alias("links"),
            F.lit(None).cast("boolean").alias("scrape_success"),
        ]
    return work.select(
        "url",
        "url_fp",
        "host",
        "depth",
        "score",
        "parent_url",
        F.lit(wave).alias("wave"),
        F.col("status"),
        F.col("lang"),
        F.coalesce(F.size("links.internal"), F.lit(0)).alias("n_internal_links"),
        F.coalesce(F.size("links.external"), F.lit(0)).alias("n_external_links"),
        *extract_cols,
        *scrape_cols,
        F.col("fit_markdown"),
    )


def _per_host_prior(host_prior: DataFrame) -> DataFrame:
    """``CrawlConfig.host_prior`` as one ``(host, prior)`` row per host
    (``max``), so a host listed twice cannot fan a candidate out into two
    rows of the broadcast join. run_crawl builds it once per crawl."""
    return host_prior.groupBy("host").agg(F.max(F.col("prior").cast("double")).alias("prior"))


def _apply_host_prior(cand: DataFrame, prior: DataFrame, weight: float) -> DataFrame:
    """Add ``weight * prior`` of the candidate's host to its score;
    ``prior`` holds one row per host (``_per_host_prior``)."""
    return (
        cand.join(F.broadcast(prior.withColumnRenamed("prior", "_hp")), "host", "left")
        .withColumn(
            "score", F.col("score") + F.lit(float(weight)) * F.coalesce(F.col("_hp"), F.lit(0.0))
        )
        .drop("_hp")
    )


def _discover(
    extracted: DataFrame,
    wave: int,
    config: CrawlConfig,
    mode: str = "links",
    host_prior: DataFrame | None = None,
) -> DataFrame:
    """Explode links of fetched pages into frontier-candidate rows with
    first-wins dedup inside the wave (order: parent score-order, then link
    position — the deterministic analog of the reference's
    discovery-insertion order). ``host_prior`` is ``_per_host_prior`` of
    ``config.host_prior``."""
    sides = [F.col("links.internal")]
    if config.include_external:
        sides.append(F.col("links.external"))
    all_links = F.concat(*sides) if len(sides) > 1 else sides[0]
    link_score_col = (
        F.coalesce(F.col("link.total_score"), F.col("link.intrinsic_score"), F.lit(1.0))
        if mode == "scrape"
        else F.lit(None).cast("double")
    )
    cand = (
        extracted.select(
            F.col("url").alias("parent_url"),
            F.col("depth").alias("parent_depth"),
            F.col("score").alias("parent_score"),
            F.col("path_key").alias("parent_path_key"),
            F.posexplode(all_links).alias("pos", "link"),
        )
        .select(
            F.col("link.href").alias("url"),
            F.col("link.text").alias("anchor_text"),
            F.col("link.title").alias("anchor_title"),
            link_score_col.alias("link_score"),
            F.col("parent_url"),
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("parent_score"),
            F.col("pos"),
            F.concat_ws(".", F.col("parent_path_key"), F.lpad(F.col("pos").cast("string"), 4, "0")).alias("path_key"),
        )
        .where(F.col("url").rlike(VALID_URL_RE))
        .where(F.col("depth") <= config.max_depth)
    )
    cand = cand.withColumn("url_fp", url_fingerprint("url")).withColumn(
        "host", host_col(F.col("url"))
    )
    # BFS: constant score (pure depth order); best-first: compiled column
    # scorer evaluated JVM-side on the discovered URL — and, when a
    # text_scorer is set, on the anchor text/title too (the reference's
    # Link intrinsic/total score drives its priority queue from anchor
    # context, not just URL shape; utils.py:3344-3504)
    if config.text_scorer is not None:
        cand = cand.withColumn(
            "score",
            config.text_scorer(
                F.col("url"), F.col("anchor_text"), F.col("anchor_title")
            ),
        )
    elif config.scorer is not None:
        cand = cand.withColumn("score", config.scorer(F.col("url")))
    elif config.score_from_links and mode == "scrape":
        # best-first from the scrape battery's own link scoring (the
        # intrinsic/contextual total computed inside the UDF)
        cand = cand.withColumn("score", F.coalesce(F.col("link_score"), F.lit(1.0)))
    else:
        cand = cand.withColumn("score", F.lit(1.0))
    if host_prior is not None:
        cand = _apply_host_prior(cand, host_prior, config.host_prior_weight)
    if config.score_threshold is not None:
        cand = cand.where(F.col("score") >= config.score_threshold)
    # first-wins dedup as an aggregation (min_by with the lexicographic
    # discovery-order key): map-side partial agg, no window. It plans as a
    # sort aggregate (a Sort on each side of the exchange), because min_by
    # over a struct of strings has no fixed-width buffer for a hash agg
    if config.strategy == "dfs":
        # DFS first-discovery = smallest preorder path
        order_key = F.struct(F.col("path_key"))
    else:
        order_key = F.struct(
            F.col("depth"), (-F.col("parent_score")).alias("neg_ps"), F.col("parent_url"), F.col("pos")
        )
    row = F.struct("url", "host", "depth", "score", "parent_url", "path_key")
    return (
        cand.groupBy("url_fp")
        .agg(F.min_by(row, order_key).alias("r"))
        .select(
            F.col("r.url").alias("url"),
            "url_fp",
            F.col("r.host").alias("host"),
            F.col("r.depth").alias("depth"),
            F.col("r.score").alias("score"),
            F.col("r.parent_url").alias("parent_url"),
            F.lit(wave + 1).alias("enqueue_wave"),
            F.col("r.path_key").alias("path_key"),
        )
    )


def _anti_join_seen(
    fresh: DataFrame, seen_keys: DataFrame | None, shards: DataFrame | None, config: CrawlConfig
) -> DataFrame:
    """Drop already-enqueued URLs: bloom pre-filter (cuts shuffle volume)
    backed by the exact anti-join (correctness)."""
    if seen_keys is None:
        return fresh
    if config.use_bloom and shards is not None:
        tagged = bloom_prefilter(fresh, shards, config.n_bloom_shards)
        definite_new = tagged.where(~F.col("maybe_seen")).drop("maybe_seen", "shard_id")
        maybe = tagged.where(F.col("maybe_seen")).drop("maybe_seen", "shard_id")
        survivors = maybe.join(seen_keys, "url_fp", "left_anti")
        return definite_new.unionByName(survivors)
    return fresh.join(seen_keys, "url_fp", "left_anti")


class _State(NamedTuple):
    """Committed crawl state, read lazily from the store."""

    frontier_all: DataFrame
    attempted_keys: DataFrame | None  # url_fp of every non-throttled result
    host_state: DataFrame | None
    shards: DataFrame | None


def _load_state(store: WaveStore, config: CrawlConfig) -> _State:
    """Reload state from committed storage (metadata-only plans)."""
    results = store.read_table("results")
    attempted = results.where(F.col("status") != "throttled") if results is not None else None
    return _State(
        store.read_table("frontier_delta"),
        attempted.select("url_fp") if attempted is not None else None,
        store.read_latest("host_state"),
        store.read_table("seen_bloom") if config.use_bloom else None,
    )


@dataclass
class _Step:
    """One politeness wave, not yet committed."""

    pending: DataFrame
    work: DataFrame  # narrow per-URL frame (see _wave_work)
    fresh: DataFrame  # new frontier rows, already anti-joined against seen
    host_state: DataFrame  # politeness state after this wave
    cached: list  # frames to release once the band commits
    n_selected: int | None = None  # counted eagerly in bands of k > 1 only
    n_throttled: int | None = None


def _stalled(host_state: DataFrame | None, pending: DataFrame) -> bool:
    """An empty wave means "done" OR "every pending host is in backoff
    cooldown": stop only when no host is cooling down (cooldown_waves ==
    -1 retired hosts never come back, so a frontier of only-retired hosts
    is terminal, matching the reference's give-up-after-max_retries) or
    nothing is pending. Otherwise the empty wave runs so cooldowns tick."""
    cooling = (
        host_state is not None
        and host_state.where(F.col("cooldown_waves") > 0).limit(1).count() > 0
    )
    return not cooling or pending.limit(1).count() == 0


def _step(
    config: CrawlConfig,
    pages: DataFrame,
    rules: DataFrame | None,  # compile_robots output
    host_budgets: DataFrame | None,
    state: _State,
    band: list[_Step],
    host_state: DataFrame | None,
    wave: int,
    remaining: int | None,
    pending_hint: int | None,
    eager: bool,
    host_prior: DataFrame | None = None,  # _per_host_prior output
) -> _Step | None:
    """One politeness wave: rank → robots → fetch → extract → discover →
    anti-join. ``band`` holds the earlier, uncommitted steps of this band:
    their discoveries join pending and their attempts leave it.

    ``eager`` (bands of k > 1) checkpoints every frame and counts the step,
    because the next step's pending, budget and host-state plans embed this
    one; returns None when that count shows the crawl has stalled. A band
    of 1 only persists: its commit writes are the first jobs to touch the
    frames, and the counts come from the written files."""
    pending = state.frontier_all.select(*FRONTIER_COLS)
    for s in band:
        pending = pending.unionByName(s.fresh.select(*FRONTIER_COLS))
    if state.attempted_keys is not None:
        pending = pending.join(state.attempted_keys, "url_fp", "left_anti")
    for s in band:
        done = s.work.where(F.col("status") != "throttled").select("url_fp")
        pending = pending.join(done, "url_fp", "left_anti")

    # memory-adaptive wave sizing: wait out critical pressure, then cap
    # this wave's global selection. A capped wave never drops URLs
    # (unselected rows stay pending), so only the wave schedule changes,
    # not the crawl's final URL-seen set.
    wave_limit = remaining
    if config.memory_governor is not None:
        pct = config.memory_governor.wait_if_critical(pages.sparkSession)
        cap = config.memory_governor.next_wave_cap(pct)
        wave_limit = cap if wave_limit is None else min(wave_limit, cap)

    if config.strategy == "dfs":
        order = dfs_order()
    elif config.fairness_boost is not None:
        order = fair_wave_order(wave, config.fairness_boost)
    else:
        order = None
    wave_sel = rank_by_host_budget(
        pending,
        host_budgets,
        config.default_budget,
        host_state=host_state,
        global_limit=wave_limit,
        order=order,
        pending_hint=pending_hint,
    )
    wave_sel = robots_gate(wave_sel, rules)
    fetched = wave_sel.join(pages, "url", "left")
    # optional status_code column drives the throttle path (429/503 →
    # backoff; absent → every present page fetches)
    has_status = "status_code" in pages.columns
    throttle_cond = F.col("status_code").isin(429, 503) if has_status else F.lit(False)
    if config.detect_blocked:
        throttle_cond = throttle_cond | blocked_reason_col(
            F.col("status_code") if has_status else F.lit(None).cast("int"),
            F.col("html"),
        ).isNotNull()
    fetched = fetched.withColumn(
        "status",
        F.when(~F.col("robots_allowed"), F.lit("robots_denied"))
        .when(F.col("html").isNull(), F.lit("missing"))
        .when(throttle_cond, F.lit("throttled"))
        .otherwise(F.lit("fetched")),
    )
    if has_status:
        fetched = fetched.drop("status_code")

    # one pass over html, then everything runs off this narrow frame.
    # localCheckpoint (eager), not persist, inside a band: each step's
    # plan embeds the previous steps' pending/host-state plans, so without
    # a LOGICAL lineage cut the band's plan tree doubles per step
    # (measured: a 2 GiB plan string by wave ~10).
    work = _wave_work(fetched, config.content_mode, config)
    work = work.localCheckpoint() if eager else work.persist()
    cached = [work]
    n_selected = n_throttled = None
    if eager:
        cnt = work.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("status") == "throttled", 1).otherwise(0)).alias("t"),
        ).collect()[0]
        n_selected, n_throttled = int(cnt["n"]), int(cnt["t"] or 0)
        if n_selected == 0 and _stalled(host_state, pending):
            work.unpersist()
            return None

    outcomes = work.groupBy("host").agg(
        F.sum(F.when(F.col("status") == "fetched", 1).otherwise(0)).alias("n_ok"),
        # 429/503-equivalents: drive the RateLimiter backoff state machine
        F.sum(F.when(F.col("status") == "throttled", 1).otherwise(0)).alias("n_throttled"),
    )
    host_state = update_host_state(host_state, outcomes)
    if eager:
        # re-broadcast by every later step's rank: a tiny frame, one cheap
        # job, and the chain stays O(1) plan depth
        host_state = host_state.localCheckpoint()

    fresh = _discover(
        work.where(F.col("status") == "fetched"), wave, config, config.content_mode, host_prior
    )
    fresh = _anti_join_seen(fresh, state.frontier_all.select("url_fp"), state.shards, config)
    for s in band:
        # the bloom shards cover only COMMITTED state — intra-band
        # discoveries dedup exactly against the band's own deltas
        fresh = fresh.join(s.fresh.select("url_fp"), "url_fp", "left_anti")
    if remaining is not None:
        # global_top_k keeps the first `remaining` discoveries in wave
        # order: the narrow discovery frame is cached so its elision count
        # and the frontier write share one computation of discover+anti-join
        cand = fresh.localCheckpoint() if eager else fresh.persist()
        cached.append(cand)
        fresh = global_top_k(cand, wave_order(), max(remaining, 0), n_rows=cand.count())
    if eager:
        # later steps' pending must not replay (or even re-plan) discovery
        fresh = fresh.localCheckpoint()
        cached.append(fresh)
    return _Step(pending, work, fresh, host_state, cached, n_selected, n_throttled)


def _compact(store: WaveStore, tables: tuple[str, ...], vacuum: bool = False) -> dict:
    """Fold each of ``tables`` that holds rows into one snapshot; returns
    the folded row count per table. Existence comes from the commit
    markers (driver-side, no Spark reader per table)."""
    committed = store.committed_waves()
    folded = {}
    for t in tables:
        if any(store.marker(w)["counts"].get(t, 0) > 0 for w in committed):
            folded[t] = store.compact(t)["rows"]
            if vacuum:
                store.vacuum(t)
    return folded


def _cached_batches(df: DataFrame):
    """The RDD of cached batches of the persisted ``df``: counting it fills
    the cache in one job (``df.count()`` would add two more). Building it
    takes the cache builder's lock, which an adaptive plan holds while it
    runs its query stages as jobs."""
    cache_manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = cache_manager.lookupCachedData(df._jdf).get()
    return cached.cachedRepresentation().cacheBuilder().cachedColumnBuffers()


def _in_phase(sc, wave: int, phase: str, fn, *args):
    """``fn(*args)`` with this thread's Spark job description set to the
    wave and phase, so every job of the crawl names where it belongs."""
    sc.setJobDescription(f"wave={wave} phase={phase}")
    return fn(*args)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    store_dir: str,
    config: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    host_budgets: DataFrame | None = None,
) -> dict:
    """Run (or resume) a crawl to completion. Returns a summary dict.

    Around each crawl-lifetime ``persist()`` it sets the session's
    ``spark.sql.adaptive.enabled`` to false: another thread querying the
    session at that moment gets a non-adaptive plan."""
    config = config or CrawlConfig()
    mode = config.content_mode
    if mode not in ("links", "full", "scrape"):
        raise ValueError(f"unknown content_mode {mode!r}")
    if config.score_from_links and mode != "scrape":
        # only the scrape battery computes per-link scores; silently
        # degrading best-first to constant-score order would be a trap
        raise ValueError(
            "CrawlConfig.score_from_links requires content_mode='scrape' "
            f"(got {mode!r})"
        )
    store = WaveStore(spark, store_dir)
    store.recover()  # drop stale staging dirs from a killed run
    pages = pages.select(
        "url", "html", *(["status_code"] if "status_code" in pages.columns else [])
    )
    band_size = max(config.depth_band or 1, 1)
    eager = band_size > 1

    from concurrent.futures import ThreadPoolExecutor, as_completed

    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    # up to four prefetches plus the two concurrent writes: no write
    # queues behind a prefetch
    pool = ThreadPoolExecutor(max_workers=6, thread_name_prefix="wave-writer")
    lifetime: dict[str, DataFrame] = {}
    prefetch = []
    band: list[_Step] = []

    def persist_and_fill(name: str, df: DataFrame) -> DataFrame:
        """Persist a frame that lives for the whole crawl under a fixed
        (non-adaptive) plan and fill its cache on the pool in one job that
        holds no lock the driver waits on while it plans the first wave."""
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            lifetime[name] = df.persist()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        fill = lambda: _cached_batches(df).count()  # noqa: E731
        prefetch.append(pool.submit(_in_phase, sc, wave, f"prefetch.{name}", fill))
        return df

    def work_left() -> bool:
        """May another wave run? Within the caps, only while URLs are pending:
        |pending| = frontier_total - total_attempted (attempted ⊆ frontier,
        both unique by url_fp) once the first footer count lands. A crawl
        with no work left plans, fills and stages nothing more."""
        return (
            steps_done < config.max_waves
            and frontier_total != total_attempted
            and (config.max_pages is None or total_attempted < config.max_pages)
        )

    last = store.last_wave()
    summary = {"waves": [], "resumed_from": last}
    state = None
    try:
        if last is None:
            wave = steps_done = total_attempted = 0
            frontier_total = None  # unknown until the first footer count lands
            # wave 0 reuses the seed frontier three times (politeness
            # pending, seen anti-join, frontier_delta union). The robots
            # compile is the longest prefetch; starting it first left the
            # first write inside the run-to-run spread
            seed_delta = persist_and_fill(
                "seeds", _prepare_seeds(seeds, need_path_keys=(config.strategy == "dfs"))
            )
            state = _State(seed_delta, None, None, None)
        else:
            wave = last + 1
            committed = store.committed_waves()
            metas = [store.marker(w).get("meta", {}) for w in committed]
            steps_done = sum(int(m.get("band_steps", 1)) for m in metas)
            frontier_total = sum(
                store.marker(w)["counts"].get("frontier_delta", 0) for w in committed
            )
            if all("n_attempted" in m for m in metas):
                total_attempted = sum(m["n_attempted"] for m in metas)
            else:
                # a marker older than its metrics row: recount, never assume 0
                sc.setJobDescription(f"wave={wave} phase=reload")
                state = _load_state(store, config)
                keys = state.attempted_keys
                total_attempted = keys.count() if keys is not None else 0
            seed_delta = None
        # the robots rules compile once per crawl (a Python UDF over the
        # host rows; every wave decides its URLs in the JVM). Each frame
        # holds one row per host (compile_robots keeps one), or a
        # listed-twice host's URLs would be selected twice by the wave's
        # broadcast joins
        rules = budgets = prior = None
        if work_left():
            if robots is not None:
                rules = persist_and_fill("robots", compile_robots(robots, config.user_agent))
            if host_budgets is not None:
                # one task: a Python-backed frame forks one Python worker, not
                # one per partition; a broadcast side fits on the driver anyway
                budgets = persist_and_fill(
                    "host_budgets",
                    host_budgets.coalesce(1).groupBy("host").agg(F.min("budget").alias("budget")),
                )
            if config.host_prior is not None:
                prior = persist_and_fill("host_prior", _per_host_prior(config.host_prior))
        while work_left():
            if state is None:
                sc.setJobDescription(f"wave={wave} phase=reload")
                state = _load_state(store, config)
            sc.setJobDescription(f"wave={wave} phase=step")
            t0 = time.time()
            band = []
            host_state = state.host_state
            crawl_done = False
            while len(band) < min(band_size, config.max_waves - steps_done):
                remaining = None
                if config.max_pages is not None:
                    remaining = config.max_pages - total_attempted - sum(
                        s.n_selected - s.n_throttled for s in band
                    )
                    if remaining <= 0:
                        crawl_done = True
                        break
                # |pending| is exact before a band's first step; lets the
                # global cap elide its sort once pending fits the remaining
                # budget
                exact = frontier_total is not None and not band
                hint = frontier_total - total_attempted if exact else None
                step = _step(
                    config, pages, rules, budgets, state, band, host_state,
                    wave, remaining, hint, eager, prior,
                )
                if step is None:
                    crawl_done = True
                    break
                band.append(step)
                host_state = step.host_state
            if not band:
                break

            results = reduce(
                DataFrame.unionByName, [_result_rows(s.work, wave, mode) for s in band]
            )
            frontier_delta = reduce(
                DataFrame.unionByName,
                ([seed_delta] if seed_delta is not None else []) + [s.fresh for s in band],
            )
            # in a band of 1 the `work` build below is the first to read the
            # crawl-lifetime caches: wait until the prefetches have filled
            # them, or it would plan its own fill jobs; the first failed
            # prefetch raises at once
            for f in as_completed(prefetch):
                f.result()
            if not eager:
                # build `work`'s cache here: its adaptive pre-stages run as `extract`
                # jobs, not as whichever write's (a max_pages `_step` built it already)
                sc.setJobDescription(f"wave={wave} phase=extract")
                _cached_batches(band[0].work)
            # results and host_state depend only on the step frames: their
            # writes run in driver threads, overlapping the discover+frontier
            # job, so the wave costs max(), not sum(), of the three (per-block
            # locks still compute a band-of-1 `work` block once)
            f_results = pool.submit(
                _in_phase, sc, wave, "write.results", store.write_table, "results", wave, results
            )
            f_host = pool.submit(
                _in_phase, sc, wave, "write.host_state",
                store.write_table, "host_state", wave, host_state,
            )
            sc.setJobDescription(f"wave={wave} phase=write.frontier_delta")
            frontier_written = store.write_table("frontier_delta", wave, frontier_delta)
            n_fresh = store.pending_count(wave, "frontier_delta")
            f_results.result()
            f_host.result()
            n_selected = store.pending_count(wave, "results")
            if eager:
                n_throttled = sum(s.n_throttled for s in band)
            else:
                # this wave's throttle count, summed driver-side from the
                # written host_state bytes — no count job
                n_throttled = sum(store.read_column("host_state", wave, "wave_throttled"))
                sc.setJobDescription(f"wave={wave} phase=step")
                if n_selected == 0 and _stalled(state.host_state, band[0].pending):
                    # the staged, uncommitted dirs are reclaimed by the
                    # next run's recover()
                    break

            # bloom shards depend only on the already-written frontier
            # bytes — submit the build+write from the pool so it overlaps
            # the (driver-side) lineage and metrics writes
            f_bloom = None
            if config.use_bloom:
                f_bloom = pool.submit(
                    _in_phase, sc, wave, "bloom", store.write_table, "seen_bloom", wave,
                    build_bloom_shards(frontier_written, config.n_bloom_shards, config.bloom_fpp),
                )
            # lineage derives from the already-written parquet footers,
            # driver-side (store.write_lineage) — zero Spark jobs
            store.write_lineage(wave, "results")
            # throttled rows are recorded but NOT attempted: they stay
            # pending (retried after the host cooldown) and don't burn
            # max_pages
            n_attempted = n_selected - n_throttled
            # Python ints and a float: arrow types the row long ×4, double
            row = {
                "wave": wave,
                "n_attempted": n_attempted,
                "n_throttled": n_throttled,
                "n_new_frontier": n_fresh,
                "wall_sec": time.time() - t0,
            }
            store.write_rows("metrics", wave, pa.Table.from_pylist([row]))
            if f_bloom is not None:
                f_bloom.result()
            marker = store.commit(wave, {"config": str(config), "band_steps": len(band), **row})
            summary["waves"].append(marker["counts"] | {"wave": wave, "band_steps": len(band)})

            for s in band:
                for c in s.cached:
                    c.unpersist()
            if seed_delta is not None:
                seed_delta.unpersist()
                seed_delta = None
            total_attempted += n_attempted
            frontier_total = (frontier_total or 0) + n_fresh
            steps_done += len(band)
            wave += 1
            if crawl_done:
                break
            # periodic fold of the in-loop-read delta tables so the state
            # reload stays O(compact_every) dirs instead of O(waves) (see
            # CrawlConfig.compact_every; safe here: every live frame is
            # re-derived from store reads, and folded wave dirs are left on
            # disk — no mid-crawl vacuum)
            if config.compact_every and wave % config.compact_every == 0:
                sc.setJobDescription(f"wave={wave - 1} phase=compact")
                _compact(store, ("frontier_delta", "results", "seen_bloom"))
            state = None
        for f in as_completed(prefetch):
            f.result()

        summary["total_attempted"] = total_attempted
        summary["final_wave"] = wave - 1
        if config.compact_on_finish:
            # delta-style tables only — host_state is snapshot-style (its
            # per-wave dirs ARE the history read_latest walks)
            sc.setJobDescription(f"wave={wave - 1} phase=compact")
            summary["compacted"] = _compact(
                store, ("results", "frontier_delta", "seen_bloom", "metrics", "lineage"),
                vacuum=True,
            )
    finally:
        # drain every thread (prefetches and writes) before anything is
        # released: an exception raised between submit and result must
        # not leave jobs running against a session the caller may stop
        pool.shutdown(wait=True, cancel_futures=True)
        for s in band:  # committed bands are released already; no-op then
            for c in s.cached:
                c.unpersist()
        for df in lifetime.values():
            df.unpersist()
        sc.setJobDescription(caller_description)
    return summary
