"""Filter/scorer compilers, chunking, regex extraction, BM25, multimodal."""

import pytest
from pyspark.sql import functions as F


def _eval(spark, builder, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r.url: r.v for r in df.select("url", builder(F.col("url")).alias("v")).collect()}


def test_pattern_filter_categories(spark):
    from crawl4ai_spark.operators.filters import compile_pattern_filter

    urls = [
        "http://a.com/x/page.html",
        "http://a.com/x/doc.pdf",
        "http://sub.example.com/y",
        "http://example.org/y",
        "http://a.com/blog/2024/post",
        "http://a.com/shop/item",
    ]
    assert _eval(spark, compile_pattern_filter(["*.html"]), urls)["http://a.com/x/page.html"]
    assert not _eval(spark, compile_pattern_filter(["*.html"]), urls)["http://a.com/x/doc.pdf"]
    dom = _eval(spark, compile_pattern_filter(["*.example.com"]), urls)
    assert dom["http://sub.example.com/y"] and not dom["http://example.org/y"]
    pre = _eval(spark, compile_pattern_filter(["http://a.com/blog/*"]), urls)
    assert pre["http://a.com/blog/2024/post"] and not pre["http://a.com/shop/item"]
    alt = _eval(spark, compile_pattern_filter(["http://a.com/{blog,shop}/**"]), urls)
    assert alt["http://a.com/blog/2024/post"] and alt["http://a.com/shop/item"]
    rev = _eval(spark, compile_pattern_filter(["*.pdf"], reverse=True), urls)
    assert rev["http://a.com/x/page.html"] and not rev["http://a.com/x/doc.pdf"]


def test_content_type_and_domain_filters(spark):
    from crawl4ai_spark.operators.filters import (
        TEXT_EXTENSIONS,
        compile_content_type_filter,
        compile_domain_filter,
        filter_chain,
    )

    urls = ["http://a.com/p.html", "http://a.com/p.exe", "http://a.com/p", "http://bad.com/p.html"]
    ct = _eval(spark, compile_content_type_filter(TEXT_EXTENSIONS), urls)
    assert ct["http://a.com/p.html"] and ct["http://a.com/p"] and not ct["http://a.com/p.exe"]
    dom = _eval(spark, compile_domain_filter(blocked=["bad.com"]), urls)
    assert dom["http://a.com/p.html"] and not dom["http://bad.com/p.html"]
    chain = _eval(
        spark,
        filter_chain(compile_content_type_filter(TEXT_EXTENSIONS), compile_domain_filter(blocked=["bad.com"])),
        urls,
    )
    assert chain["http://a.com/p.html"] and not chain["http://bad.com/p.html"]


def test_scorers(spark):
    from crawl4ai_spark.operators.scorers import (
        composite_scorer,
        content_type_scorer,
        domain_authority_scorer,
        freshness_scorer,
        keyword_relevance_scorer,
        path_depth_scorer,
    )

    urls = ["http://a.com/docs/api/guide", "http://a.com/", "http://a.com/x/2025/post", "http://a.com/old/1999/x"]
    depth = _eval(spark, path_depth_scorer(3), urls)
    assert depth["http://a.com/docs/api/guide"] == 1.0
    assert depth["http://a.com/"] == 0.25  # distance 3
    fresh = _eval(spark, freshness_scorer(2026), urls)
    assert fresh["http://a.com/x/2025/post"] == 0.9
    assert fresh["http://a.com/"] == 0.5  # no year
    assert abs(fresh["http://a.com/old/1999/x"] - 0.1) < 1e-9  # floor
    kw = _eval(spark, keyword_relevance_scorer(["docs", "api"]), urls)
    assert kw["http://a.com/docs/api/guide"] == 1.0 and kw["http://a.com/"] == 0.0
    auth = _eval(spark, domain_authority_scorer({"a.com": 0.9}), urls)
    assert auth["http://a.com/"] == 0.9
    comp = _eval(
        spark,
        composite_scorer(path_depth_scorer(3, 0.5), keyword_relevance_scorer(["docs"], 0.5)),
        urls,
    )
    assert abs(comp["http://a.com/docs/api/guide"] - (0.5 * 1.0 + 0.5 * 1.0)) < 1e-9
    ct = _eval(spark, content_type_scorer({"html": 1.0, "pdf": 0.3}), ["http://a.com/x.pdf"])
    assert ct["http://a.com/x.pdf"] == 0.3


def test_chunking(spark):
    from crawl4ai_spark.operators.chunking import (
        fixed_length_word_chunking,
        overlapping_window_chunking,
        regex_chunking,
        sliding_window_chunking,
    )

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    fixed = {(r.chunk_index, r.chunk) for r in fixed_length_word_chunking(df, 3).collect()}
    assert fixed == {(0, "a b c"), (1, "d e f"), (2, "g")}
    # reference semantics: windows lie fully inside the doc (partial tail
    # dropped; short docs yield one whole-text chunk)
    sliding = {(r.chunk_index, r.chunk) for r in sliding_window_chunking(df, 4, 2).collect()}
    assert sliding == {(0, "a b c d"), (1, "c d e f")}
    short = {(r.chunk_index, r.chunk) for r in sliding_window_chunking(
        spark.createDataFrame([(2, "x y")], "doc_id long, text string"), 4, 2).collect()}
    assert short == {(0, "x y")}
    over = {(r.chunk_index, r.chunk) for r in overlapping_window_chunking(df, 4, 2).collect()}
    assert over == sliding
    para = spark.createDataFrame([(1, "p1 line\n\np2 line\n\n\n")], "doc_id long, text string")
    chunks = [r.chunk for r in regex_chunking(para).orderBy("chunk_index").collect()]
    assert chunks == ["p1 line", "p2 line"]


def test_regex_extraction(spark):
    from crawl4ai_spark.operators.regex_extract import regex_extract_matches

    df = spark.createDataFrame(
        [(1, "mail a@b.com visit https://x.com/y on 2024-01-02 pay $5.99")],
        "doc_id long, text string",
    )
    got = {(r.label, r.value) for r in regex_extract_matches(df).collect()}
    assert ("email", "a@b.com") in got
    assert ("url", "https://x.com/y") in got
    assert ("date_iso", "2024-01-02") in got
    assert ("currency", "$5.99") in got


def test_bm25_ordering(spark):
    from crawl4ai_spark.operators.bm25 import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "table scan join merge table scan"),
            (2, "table and nothing else here today"),
            (3, "completely unrelated words entirely different"),
        ],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.bm25 for r in bm25_scores(df, ["table", "scan"]).collect()}
    assert scores[1] > scores.get(2, 0.0)
    assert 3 not in scores  # no query terms → no row


def test_adaptive_stats(spark):
    from crawl4ai_spark.operators.bm25 import (
        confidence,
        consistency_stats,
        coverage_stats,
        saturation_stat,
    )

    df = spark.createDataFrame(
        [(1, "table scan join"), (2, "table scan merge"), (3, "table window sort")],
        "doc_id long, text string",
    )
    cov = coverage_stats(df, ["table", "scan"])
    assert 0.5 < cov <= 1.0
    assert saturation_stat([100, 10]) == 0.9
    assert abs(confidence(1.0, 1.0, 1.0) - 1.0) < 1e-9
    cons = consistency_stats(df, n_hashes=128)
    assert 0.0 < cons < 1.0  # overlapping but not identical term sets


def test_consistency_stats_deterministic_and_calibrated(spark):
    """Same value across two runs (the old limit()-based sampling was
    run-dependent), and the MinHash estimate lands near the exact mean
    pairwise Jaccard on identical/disjoint corpora."""
    from crawl4ai_spark.operators.bm25 import consistency_stats

    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(8)], "doc_id long, text string"
    )
    assert abs(consistency_stats(same) - 1.0) < 1e-9
    disjoint = spark.createDataFrame(
        [(i, f"wordA{i} wordB{i} wordC{i}") for i in range(8)],
        "doc_id long, text string",
    )
    assert consistency_stats(disjoint) < 0.05
    mixed = spark.createDataFrame(
        [(i, "shared tokens here plus " + ("alpha beta" if i % 2 else "gamma delta"))
         for i in range(12)],
        "doc_id long, text string",
    )
    v1 = consistency_stats(mixed)
    v2 = consistency_stats(mixed)
    assert v1 == v2
    assert 0.2 < v1 < 0.95


def test_multimodal_plumbing(spark):
    from crawl4ai_spark.operators.multimodal import (
        DecoderRegistry,
        extract_media_features,
        synth_media_table,
    )

    media = synth_media_table(spark, 30)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    assert all(r.decode_ok for r in feats)
    # even ids = real payloads → real decoders: 16-dim vector whose LAST 8
    # entries are the normalized histogram (leading slots carry w/h/rate…);
    # odd ids = opaque bytes → byte-histogram fallback: all 16 sum to 1
    assert all(len(r.features) == 16 for r in feats)
    assert all(
        abs(sum(r.features[-8:]) - 1.0) < 1e-3 for r in feats if r.media_id % 2 == 0
    )
    assert all(
        abs(sum(r.features) - 1.0) < 1e-3 for r in feats if r.media_id % 2 == 1
    )
    # deterministic across runs
    feats2 = extract_media_features(media).collect()
    assert {r.media_id: r.sha256 for r in feats} == {r.media_id: r.sha256 for r in feats2}
    # unregistered kind → decode_ok False, stage survives
    empty_reg = DecoderRegistry()
    broken = extract_media_features(media, registry=empty_reg).collect()
    assert all(not r.decode_ok for r in broken)


def test_best_first_scorer_orders_frontier(spark, tmp_path):
    """Best-first mode: a keyword scorer must pull matching URLs into
    earlier waves than the BFS order would."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore
    from crawl4ai_spark.operators.scorers import keyword_relevance_scorer
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    import os

    site = generate_site(n_hosts=1, cats=2, subs=1, prods=2)
    d = tmp_path / "site"
    write_site_parquet(site, str(d))
    pages = spark.read.parquet(os.path.join(str(d), "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(str(d), "seeds.parquet"))

    store_dir = str(tmp_path / "store_bff")
    config = CrawlConfig(
        max_depth=3,
        content_mode="links",
        use_bloom=False,
        default_budget=1,  # tight budget so ordering matters
        scorer=keyword_relevance_scorer(["cat1"]),
    )
    run_crawl(spark, pages, seeds, store_dir, config)
    results = WaveStore(spark, store_dir).read_table("results")
    waves = {r.url: r.wave for r in results.collect()}
    # cat1 subtree (scored 1.0) must be crawled before cat0 (scored 0.0)
    assert waves["http://site0.com/cat1/"] < waves["http://site0.com/cat0/"]


_PENDING_SCHEMA = (
    "url string, url_fp long, host string, depth int, score double, "
    "parent_url string, enqueue_wave int, path_key string"
)


def _python_wave_selection(rows, budgets, default_budget, cooldowns, global_limit, order_key):
    """Pure-Python wave selection: per host, the first ``budget`` rows
    under ``order_key`` (budget 0 while the host's cooldown is not 0),
    then the first ``global_limit`` of those under the same key."""
    by_host = {}
    for r in rows:
        by_host.setdefault(r[2], []).append(r)
    picked = []
    for host, host_rows in by_host.items():
        budget = 0 if cooldowns.get(host, 0) != 0 else budgets.get(host, default_budget)
        picked += sorted(host_rows, key=order_key)[:budget]
    if global_limit is not None:
        picked = sorted(picked, key=order_key)[:global_limit]
    return {r[0] for r in picked}


def test_rank_by_host_budget_matches_python_selection(spark, monkeypatch):
    """Seeded random frontiers: the one-window rank plus the global top-k
    select exactly what a pure-Python per-host sort selects, under each
    of the three wave orders, with budgets, cooldowns (-1/0/2), caps,
    pending hints and every top-k case (elided, small k, range rank).
    The first trial keeps a hot host of 500 rows under budget 7."""
    import random

    from crawl4ai_spark.operators import politeness
    from crawl4ai_spark.operators.politeness import (
        dfs_order,
        fair_wave_order,
        rank_by_host_budget,
        wave_order,
    )

    orders = {
        "wave": (lambda w: wave_order(), lambda w: lambda r: (-r[4], r[3], r[0])),
        "fair": (
            lambda w: fair_wave_order(w, 0.3),
            lambda w: lambda r: (-(r[4] + 0.3 * (w - r[6])), r[6], r[3], r[0]),
        ),
        "dfs": (lambda w: dfs_order(), lambda w: lambda r: (r[7], r[0])),
    }
    rng = random.Random(20261018)
    for trial in range(12):
        hosts = [f"h{i}.test" for i in range(rng.randint(1, 6))]
        rows = []
        for i in range(rng.randint(1, 120)):
            host = rng.choice(hosts)
            rows.append((
                f"http://{host}/p{i:04d}", rng.randrange(10**6), host, rng.randint(0, 3),
                float(rng.randint(0, 4)), None, rng.randint(0, 5),
                ".".join(f"{rng.randint(0, 9):04d}" for _ in range(rng.randint(1, 3))),
            ))
        budgets = {h: rng.randint(0, 10) for h in hosts if rng.random() < 0.5}
        default_budget = rng.randint(1, 5)
        cooldowns = {h: rng.choice([-1, 0, 2]) for h in hosts if rng.random() < 0.4}
        global_limit = rng.choice([None, 0, 5, 50, 10**4])
        if trial == 0:
            rows += [
                (f"http://hot.com/p{i:04d}", i * 7919 % 100003, "hot.com", i % 4,
                 float(i % 13), None, 0, "")
                for i in range(500)
            ]
            budgets["hot.com"] = 7
            global_limit = None
        name = ("wave", "fair", "dfs")[trial % 3]
        wave = rng.randint(0, 8)
        order, key = orders[name][0](wave), orders[name][1](wave)
        hint = rng.choice([None, len(rows), len(rows) + 10])
        monkeypatch.setattr(politeness, "SMALL_K_MAX", rng.choice([200_000, 3]))

        pending = spark.createDataFrame(rows, _PENDING_SCHEMA)
        budget_df = (
            spark.createDataFrame(list(budgets.items()), "host string, budget int")
            if budgets else None
        )
        state_df = (
            spark.createDataFrame(
                [(h, 1.0, 0, c) for h, c in cooldowns.items()],
                "host string, current_delay double, fail_count int, cooldown_waves int",
            )
            if cooldowns else None
        )
        got = rank_by_host_budget(
            pending, budget_df, default_budget, host_state=state_df,
            global_limit=global_limit, order=order, pending_hint=hint,
        ).collect()
        want = _python_wave_selection(
            rows, budgets, default_budget, cooldowns, global_limit, key
        )
        assert all(r.selected for r in got)
        assert {r.url for r in got} == want, (trial, name, global_limit)
        if trial == 0:
            assert len([r for r in got if r.host == "hot.com"]) == 7


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Scale posture evidence: bucketing frontier-like and pages-like
    tables on the join key removes the Exchange from the join plan — the
    co-located fetch join of the 100 TB design."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS b_pages")
    spark.sql("DROP TABLE IF EXISTS b_frontier")
    base = spark.range(10000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("url"),
        F.col("id").alias("payload"),
    )
    (base.write.bucketBy(8, "url").sortBy("url").mode("overwrite")
         .option("path", str(tmp_path / "b_pages")).saveAsTable("b_pages"))
    (base.select("url").write.bucketBy(8, "url").mode("overwrite")
         .option("path", str(tmp_path / "b_frontier")).saveAsTable("b_frontier"))

    # force the sort-merge path (a broadcast would trivially avoid the
    # shuffle; the point is bucketed co-location at big-big scale)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_frontier").join(spark.table("b_pages"), "url")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_config_router_first_match_wins(spark):
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.filters import compile_config_router

    router = compile_config_router(
        [("*.pdf", "docs"), ("http://a.com/api/*", "api"), ("*.a.com", "site_a")],
        default="std",
    )
    df = spark.createDataFrame(
        [("http://a.com/api/x.pdf",), ("http://a.com/api/v1",), ("http://www.a.com/y",), ("http://b.com/z",)],
        "url string",
    )
    got = {r.url: r.cfg for r in df.select("url", router(F.col("url")).alias("cfg")).collect()}
    assert got == {
        "http://a.com/api/x.pdf": "docs",   # first route wins
        "http://a.com/api/v1": "api",
        "http://www.a.com/y": "site_a",
        "http://b.com/z": "std",
    }


def test_rank_links_expected_gain(spark):
    from crawl4ai_spark.operators.bm25 import rank_links_expected_gain

    cands = spark.createDataFrame(
        [
            (1, "spark crawl frontier wave politeness budget"),   # relevant + novel
            (2, "spark crawl known words already crawled before"),  # relevant, not novel
            (3, "cooking pasta tomato basil dinner recipe"),        # irrelevant + novel
        ],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame(
        [("spark",), ("crawl",), ("known",), ("words",), ("already",), ("crawled",), ("before",)],
        "term string",
    )
    ranked = rank_links_expected_gain(cands, seen, ["spark", "crawl"]).collect()
    order = [r.doc_id for r in ranked]
    gains = {r.doc_id: r.expected_gain for r in ranked}
    assert order[0] == 1                  # relevant AND novel wins
    assert gains[1] > gains[2] > 0        # novelty separates 1 from 2
    assert gains[3] < gains[2]            # relevance dominates novelty (0.7/0.3)


def test_freshness_future_year_falls_back(spark):
    """Future-dated years are invalid (reference takes the most recent year
    <= current_year); URL with only /2030/ gets the 0.5 no-year default,
    and a mixed URL uses the max valid year."""
    from crawl4ai_spark.operators.scorers import freshness_scorer

    urls = [
        "http://a.com/2030/post",          # future only -> default
        "http://a.com/2030/archive/2024/", # future + valid -> 2024
        "http://a.com/2020/2024/x",        # finditer consumes "/2020/20" -> only 2020 found
    ]
    fresh = _eval(spark, freshness_scorer(2026), urls)
    assert fresh["http://a.com/2030/post"] == 0.5
    assert fresh["http://a.com/2030/archive/2024/"] == 0.8
    # reference finditer parity: month-group consumption hides 2024
    assert abs(fresh["http://a.com/2020/2024/x"] - 0.4) < 1e-9
    assert all(0.0 <= v <= 1.0 for v in fresh.values())


def test_retired_host_gets_zero_budget(spark):
    """cooldown_waves == -1 (retired after max_retries) must zero the
    budget permanently, like cooldown_waves > 0 does temporarily."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.politeness import rank_by_host_budget

    pending = spark.createDataFrame(
        [
            ("http://dead.com/a", 1, "dead.com", 0, 1.0, None, 0, ""),
            ("http://cool.com/a", 2, "cool.com", 0, 1.0, None, 0, ""),
            ("http://ok.com/a", 3, "ok.com", 0, 1.0, None, 0, ""),
        ],
        "url string, url_fp long, host string, depth int, score double, parent_url string, enqueue_wave int, path_key string",
    )
    host_state = spark.createDataFrame(
        [("dead.com", 60.0, 5, -1), ("cool.com", 2.0, 1, 3), ("ok.com", 0.25, 0, 0)],
        "host string, current_delay double, fail_count int, cooldown_waves int",
    )
    sel = {
        r.host
        for r in rank_by_host_budget(pending, None, 10, host_state=host_state)
        .where(F.col("selected"))
        .collect()
    }
    assert sel == {"ok.com"}


def test_global_top_k_two_phase_exact(spark):
    """global_top_k returns exactly the true global top-k under the total
    order, for every k: none, small, and at or above the row count."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.politeness import global_top_k, wave_order

    rows = [
        (f"http://h{i % 17}.com/p{i:04d}", i * 7919 % 100003, f"h{i % 17}.com", i % 5, float(i % 23), None, 0, "")
        for i in range(800)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, url_fp long, host string, depth int, score double, parent_url string, enqueue_wave int, path_key string",
    )
    ordered = [r.url for r in df.orderBy(F.desc("score"), F.asc("depth"), F.asc("url")).collect()]
    for k in (0, 1, 50, 799, 800, 1000):
        got = [r.url for r in global_top_k(df, wave_order(), k).collect()]
        assert sorted(got) == sorted(ordered[:k]), f"k={k}"


def test_fairness_aging_rescues_starving_url(spark):
    """With fair_wave_order, a long-waiting low-score URL eventually
    outranks fresh high-score URLs (reference fairness re-prioritization
    semantics); with the default order it would starve forever."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.politeness import fair_wave_order, rank_by_host_budget

    pending = spark.createDataFrame(
        [
            ("http://a.com/starving", 1, "a.com", 1, 0.0, None, 0, ""),
            ("http://a.com/fresh", 2, "a.com", 1, 1.0, None, 10, ""),
        ],
        "url string, url_fp long, host string, depth int, score double, parent_url string, enqueue_wave int, path_key string",
    )

    def top(order):
        df = rank_by_host_budget(pending, None, 1, order=order)
        return [r.url for r in df.where(F.col("selected")).collect()]

    # default order: fresh high-score wins
    assert top(None) == ["http://a.com/fresh"]
    # aged order at wave 10 with boost 0.2: starving URL has waited 10
    # waves -> effective score 2.0 > 1.0
    assert top(fair_wave_order(10, 0.2)) == ["http://a.com/starving"]


def _reference_token_chunks(words, threshold, overlap, rate=0.75):
    """Independent simulation of the reference deque algorithm
    (utils.chunk_documents) used as a test oracle for the closed form."""
    from collections import deque

    q = deque(words)
    contrib = deque([rate] * len(words))
    current = sum(contrib)
    out = []
    while current >= threshold:
        chunk, cc, tot = [], [], 0.0
        while contrib and tot + contrib[0] <= threshold:
            tot += contrib[0]
            cc.append(contrib.popleft())
            chunk.append(q.popleft())
        if not cc:
            cc.append(contrib.popleft())
            chunk.append(q.popleft())
        otot, oidx = 0.0, 0
        for c in reversed(cc):
            if otot + c > overlap:
                break
            otot += c
            oidx += 1
        if oidx:
            for w, c in zip(reversed(chunk[-oidx:]), reversed(cc[-oidx:])):
                q.appendleft(w)
                contrib.appendleft(c)
            current += otot
        current -= sum(cc)
        out.append(" ".join(chunk[: len(chunk) - oidx] if oidx else chunk))
    if q:
        out.append(" ".join(q))
    return out


def test_token_budget_chunking_matches_reference_algorithm(spark):
    from crawl4ai_spark.operators.chunking import token_budget_chunking

    cases = [(64, 16), (64, 0), (10, 3), (100, 40)]
    for n_words in (0, 1, 50, 85, 86, 200, 501):
        words = [f"w{i}" for i in range(n_words)]
        doc = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
        for threshold, overlap in cases:
            want = _reference_token_chunks(words, threshold, overlap)
            got = [
                r.chunk
                for r in token_budget_chunking(doc, threshold, overlap)
                .orderBy("chunk_index")
                .collect()
            ]
            assert got == [w for w in want if w.strip()], (n_words, threshold, overlap)


def test_sentence_chunking(spark):
    from crawl4ai_spark.operators.chunking import sentence_chunking

    doc = spark.createDataFrame(
        [(1, "First sentence. Second one! Third?  Fourth has no end")],
        "doc_id long, text string",
    )
    got = [r.chunk for r in sentence_chunking(doc).orderBy("chunk_index").collect()]
    assert got == ["First sentence.", "Second one!", "Third?", "Fourth has no end"]


def test_merge_chunks_grouped(spark):
    from crawl4ai_spark.operators.chunking import merge_chunks_grouped, merge_token_chunks

    # local semantics: pre-allocated chunk count, overlap carried forward
    merged = merge_token_chunks(["a b c", "d e", "f g h i"], target_size=4, overlap=1)
    assert merged == ["a b c d", "d e f g", "g h i"]
    rows = [(1, i, c) for i, c in enumerate(["a b c", "d e", "f g h i"])]
    df = spark.createDataFrame(rows, "doc_id long, chunk_index int, chunk string")
    got = [
        r.chunk
        for r in merge_chunks_grouped(df, target_size=4, overlap=1)
        .orderBy("chunk_index")
        .collect()
    ]
    assert got == merged


def test_anchor_text_best_first_crawl(spark, tmp_path):
    """text_scorer drives wave order from ANCHOR TEXT: under budget 1,
    URLs whose anchor says 'category 1' are crawled before category 0
    even though the keyword never appears in scored anchor-bearing
    URL paths' own text otherwise."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore
    from crawl4ai_spark.operators.scorers import anchor_keyword_scorer
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet

    site_dir = str(tmp_path / "site")
    write_site_parquet(generate_site(n_hosts=1, cats=2, subs=1, prods=1), site_dir)
    import os

    pages = spark.read.parquet(os.path.join(site_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(site_dir, "seeds.parquet"))
    store_dir = str(tmp_path / "store")
    config = CrawlConfig(
        max_depth=2,
        content_mode="links",
        use_bloom=False,
        default_budget=1,
        text_scorer=anchor_keyword_scorer(["category 1"]),
    )
    run_crawl(spark, pages, seeds, store_dir, config)
    results = WaveStore(spark, store_dir).read_table("results")
    waves = {r.url: r.wave for r in results.collect()}
    assert waves["http://site0.com/cat1/"] < waves["http://site0.com/cat0/"]


def test_topic_segmentation_finds_vocabulary_shift(spark):
    from crawl4ai_spark.operators.chunking import topic_segmentation_chunking

    topic_a = "spark cluster executor shuffle partition stage task driver memory cache "
    topic_b = "recipe tomato basil pasta oven garlic butter salt dinner kitchen "
    text = (topic_a * 30 + topic_b * 30).strip()
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    segs = topic_segmentation_chunking(df).orderBy("chunk_index").collect()
    assert 2 <= len(segs) <= 4
    # first segment is spark-topic, last is cooking-topic (keywords are
    # tf-ranked, alphabetical among ties)
    spark_vocab = set("spark cluster executor shuffle partition stage task driver memory cache".split())
    food_vocab = set("recipe tomato basil pasta oven garlic butter salt dinner kitchen".split())
    assert set(segs[0].keywords) <= spark_vocab
    assert set(segs[-1].keywords) <= food_vocab
    # segments partition the document
    joined = " ".join(s.chunk for s in segs)
    assert joined.split() == text.split()
    # short docs: single segment
    short = spark.createDataFrame([(2, "just a few words here")], "doc_id long, text string")
    got = topic_segmentation_chunking(short).collect()
    assert len(got) == 1 and got[0].chunk == "just a few words here"


def test_global_top_k_large_k_range_path(spark, monkeypatch):
    """k above SMALL_K_MAX routes through the distributed range rank
    (range repartition + per-partition offsets, no single-task merge);
    selection must still be the exact global top-k, including when k
    spans several range partitions."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators import politeness
    from crawl4ai_spark.operators.politeness import global_top_k, wave_order

    monkeypatch.setattr(politeness, "SMALL_K_MAX", 10)

    rows = [
        (f"http://h{i % 17}.com/p{i:04d}", i * 7919 % 100003, f"h{i % 17}.com",
         i % 5, float(i % 23), None, 0, "")
        for i in range(800)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, url_fp long, host string, depth int, score double, "
        "parent_url string, enqueue_wave int, path_key string",
    )
    for k in (50, 300):
        want = {
            r.url
            for r in df.orderBy(F.desc("score"), F.asc("depth"), F.asc("url"))
            .limit(k)
            .collect()
        }
        got = [r.url for r in global_top_k(df, wave_order(), k).collect()]
        assert len(got) == k and set(got) == want, f"k={k}"


def test_global_top_k_elision_no_window(spark):
    """With a caller-known candidate count ≤ k, every row is returned
    with zero windows and zero sorts (the common late-crawl case)."""
    import io
    from contextlib import redirect_stdout

    from crawl4ai_spark.operators.politeness import global_top_k, wave_order

    df = spark.createDataFrame(
        [(f"http://a.com/{i}", i, "a.com", 0, 1.0, None, 0, "") for i in range(100)],
        "url string, url_fp long, host string, depth int, score double, "
        "parent_url string, enqueue_wave int, path_key string",
    )
    top = global_top_k(df, wave_order(), 1000, n_rows=100)
    buf = io.StringIO()
    with redirect_stdout(buf):
        top.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan
    assert top.count() == 100


def test_merge_chunks_grouped_string_group_col(spark):
    """URL-keyed corpora group by string — the output schema must carry
    the group column's actual type (previously hard-coded long)."""
    from crawl4ai_spark.operators.chunking import merge_chunks_grouped

    df = spark.createDataFrame(
        [("http://a.com/x", 0, "alpha beta"), ("http://a.com/x", 1, "gamma delta"),
         ("http://b.com/y", 0, "epsilon zeta")],
        "url string, chunk_index int, chunk string",
    )
    out = merge_chunks_grouped(df, target_size=10, group_col="url")
    assert dict(out.dtypes)["url"] == "string"
    got = {r.url: r.chunk for r in out.collect()}
    assert got["http://a.com/x"] == "alpha beta gamma delta"
    assert got["http://b.com/y"] == "epsilon zeta"


def test_anchor_keyword_scorer_empty_keywords_raises():
    import pytest as _pytest

    from crawl4ai_spark.operators.scorers import anchor_keyword_scorer

    with _pytest.raises(ValueError):
        anchor_keyword_scorer([])


def test_kmeans_centroids_deterministic_across_layouts(spark):
    """Centroids must be identical run-to-run and layout-to-layout (the
    sample is hash-ordered, not an unordered limit())."""
    import numpy as np

    from crawl4ai_spark.operators.similarity import kmeans_centroids

    rng = np.random.RandomState(7)
    rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(500)]
    emb1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb2 = spark.createDataFrame(list(reversed(rows)), "vec_id long, embedding array<double>").repartition(7)
    c1 = kmeans_centroids(emb1, k=4, iters=3, sample=200)
    c2 = kmeans_centroids(emb2, k=4, iters=3, sample=200)
    assert np.allclose(c1, c2)
