"""Spark wave loop ≡ single-process reference crawler, plus resume and
checkpoint invariants."""

import os

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
from crawl4ai_spark.frontier.store import WaveStore

from tests.reference_crawler import reference_crawl


def _inputs(spark, site_dir):
    pages = spark.read.parquet(os.path.join(site_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(site_dir, "seeds.parquet"))
    robots = spark.read.parquet(os.path.join(site_dir, "robots.parquet"))
    budgets = spark.read.parquet(os.path.join(site_dir, "host_budgets.parquet"))
    return pages, seeds, robots, budgets


def _reference(site, budgets=None, robots=True, **kw):
    pages_by_url = {p["url"]: p["html"] for p in site["pages"]}
    seeds = [s["url"] for s in site["seeds"]]
    robots_rules = {r["host"]: r["rules_text"] for r in site["robots"]} if robots else None
    return reference_crawl(pages_by_url, seeds, budgets=budgets, robots_rules=robots_rules, **kw)


def _spark_waves(spark, store_dir):
    store = WaveStore(spark, store_dir)
    results = store.read_table("results")
    out = []
    for wave in store.committed_waves():
        rows = results.where(F.col("wave") == wave).select("url", "status").collect()
        out.append(
            {
                "attempted": {r.url for r in rows},
                "denied": {r.url for r in rows if r.status == "robots_denied"},
                "fetched": {r.url for r in rows if r.status == "fetched"},
            }
        )
    return [w for w in out if w["attempted"]]


@pytest.mark.parametrize("use_bloom", [True, False])
def test_bfs_matches_reference_with_budgets_and_robots(
    spark, site, site_dir, tmp_path, use_bloom
):
    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    store_dir = str(tmp_path / f"store_bloom_{use_bloom}")
    config = CrawlConfig(max_depth=3, content_mode="links", use_bloom=use_bloom, n_bloom_shards=4)
    summary = run_crawl(spark, pages, seeds, store_dir, config, robots=robots, host_budgets=budgets)

    budget_map = {r["host"]: r["budget"] for r in site["host_budgets"]}
    ref = _reference(site, budgets=budget_map, max_depth=3)

    got_waves = _spark_waves(spark, store_dir)
    assert len(got_waves) == len(ref["waves"]), (
        f"wave count mismatch: spark={len(got_waves)} ref={len(ref['waves'])}"
    )
    for i, (got, want) in enumerate(zip(got_waves, ref["waves"])):
        assert got["attempted"] == want["attempted"], f"wave {i} attempted set differs"
        assert got["denied"] == want["denied"], f"wave {i} denied set differs"
        assert got["fetched"] == want["fetched"], f"wave {i} fetched set differs"
    assert summary["total_attempted"] == len(ref["attempted"])


def test_bfs_depths_match_link_graph_oracle(spark, site, site_dir, tmp_path):
    """Unlimited budget, no robots → pure BFS; depths must equal the
    generator's link-graph oracle."""
    pages, seeds, _, _ = _inputs(spark, site_dir)
    store_dir = str(tmp_path / "store_pure")
    config = CrawlConfig(max_depth=3, content_mode="links", use_bloom=False)
    run_crawl(spark, pages, seeds, store_dir, config)

    store = WaveStore(spark, store_dir)
    got = {
        r.url: r.depth
        for r in store.read_table("results").select("url", "depth").collect()
    }
    want = {r["url"]: r["depth"] for r in site["link_graph"]}
    assert got == want


def test_no_url_attempted_twice(spark, site_dir, tmp_path):
    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    store_dir = str(tmp_path / "store_once")
    run_crawl(
        spark, pages, seeds, store_dir,
        CrawlConfig(max_depth=3, content_mode="links", n_bloom_shards=4),
        robots=robots, host_budgets=budgets,
    )
    store = WaveStore(spark, store_dir)
    results = store.read_table("results")
    dups = results.groupBy("url").count().where(F.col("count") > 1).count()
    assert dups == 0


def test_resume_exactly_continues(spark, site, site_dir, tmp_path):
    """Kill after 2 waves (max_waves), rerun → identical final state to an
    uninterrupted crawl, no duplicate attempts."""
    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    store_dir = str(tmp_path / "store_resume")
    config_partial = CrawlConfig(max_depth=3, content_mode="links", max_waves=2, n_bloom_shards=4)
    run_crawl(spark, pages, seeds, store_dir, config_partial, robots=robots, host_budgets=budgets)
    store = WaveStore(spark, store_dir)
    assert store.last_wave() == 1  # stopped early

    config_full = CrawlConfig(max_depth=3, content_mode="links", n_bloom_shards=4)
    summary = run_crawl(spark, pages, seeds, store_dir, config_full, robots=robots, host_budgets=budgets)
    assert summary["resumed_from"] == 1

    budget_map = {r["host"]: r["budget"] for r in site["host_budgets"]}
    ref = _reference(site, budgets=budget_map, max_depth=3)
    results = store.read_table("results")
    assert {r.url for r in results.select("url").collect()} == ref["attempted"]
    dups = results.groupBy("url").count().where(F.col("count") > 1).count()
    assert dups == 0
    # per-wave sets still match the reference across the kill/resume boundary
    got_waves = _spark_waves(spark, store_dir)
    for i, (got, want) in enumerate(zip(got_waves, ref["waves"])):
        assert got["attempted"] == want["attempted"], f"wave {i} differs across resume"


def test_max_pages_budget(spark, site, site_dir, tmp_path):
    pages, seeds, _, _ = _inputs(spark, site_dir)
    store_dir = str(tmp_path / "store_cap")
    config = CrawlConfig(max_depth=3, content_mode="links", max_pages=10, use_bloom=False)
    summary = run_crawl(spark, pages, seeds, store_dir, config)
    assert summary["total_attempted"] <= 10
    ref = _reference(site, robots=False, max_pages=10, max_depth=3)
    store = WaveStore(spark, store_dir)
    got = {r.url for r in store.read_table("results").select("url").collect()}
    assert got == ref["attempted"]


@pytest.mark.parametrize("table", ["robots", "host_budgets"])
def test_duplicate_host_rows_attempt_each_url_once(spark, site, site_dir, tmp_path, table):
    """A host listed twice in ``robots`` or ``host_budgets`` is reduced to
    one row (the latest robots entry, the smallest budget): no URL is
    attempted twice, and the crawl equals that of the deduplicated input."""
    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    if table == "robots":
        stale = robots.withColumn("fetch_time", F.col("fetch_time") - F.expr("INTERVAL 1 HOUR"))
        stale = stale.withColumn("rules_text", F.lit("User-agent: *\nDisallow: /"))
        robots = robots.unionByName(robots).unionByName(stale)
    else:
        budgets = budgets.unionByName(budgets).unionByName(
            budgets.withColumn("budget", F.col("budget") + 50)
        )
    store_dir = str(tmp_path / f"store_dup_{table}")
    config = CrawlConfig(max_depth=2, content_mode="links", n_bloom_shards=4)
    summary = run_crawl(spark, pages, seeds, store_dir, config, robots=robots, host_budgets=budgets)

    attempted = (
        WaveStore(spark, store_dir).read_table("results")
        .where(F.col("status") != "throttled").select("url").collect()
    )
    assert summary["total_attempted"] == len({r.url for r in attempted}) == len(attempted)
    budget_map = {r["host"]: r["budget"] for r in site["host_budgets"]}
    ref = _reference(site, budgets=budget_map, max_depth=2)
    got_waves = _spark_waves(spark, store_dir)
    assert [w["attempted"] for w in got_waves] == [w["attempted"] for w in ref["waves"]]


def test_wave_selection_plans_one_host_exchange(spark, site_dir, tmp_path, monkeypatch):
    """Wave selection reads ``pending`` once: the work plan of wave 1 of a
    budgeted crawl holds one exchange on host and one anti-join against
    the attempted keys, and a ``max_pages`` cap is Spark's top-k with no
    window outside the per-host one."""
    import io
    import re
    from contextlib import redirect_stdout

    from crawl4ai_spark.frontier import bfs
    from crawl4ai_spark.operators.politeness import rank_by_host_budget

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    plans = []
    wave_work = bfs._wave_work

    def recording_wave_work(fetched, mode, config):
        work = wave_work(fetched, mode, config)
        plans.append(plan_of(work))
        return work

    monkeypatch.setattr(bfs, "_wave_work", recording_wave_work)
    pages, seeds, _, budgets = _inputs(spark, site_dir)
    run_crawl(
        spark, pages, seeds, str(tmp_path / "store_plan"),
        CrawlConfig(max_depth=3, content_mode="links", max_waves=2, n_bloom_shards=4),
        host_budgets=budgets,
    )
    assert len(plans) == 2
    # the cached budgets frame prints its own per-host aggregation, whose
    # exchange on host is an ENSURE_REQUIREMENTS one
    host_repartitions = re.findall(
        r"Exchange hashpartitioning\(host#\d+, \d+\), REPARTITION_BY_COL", plans[1]
    )
    assert len(host_repartitions) == 1, plans[1]
    assert plans[1].count("LeftAnti") == 1, plans[1]

    pending = bfs._prepare_seeds(seeds)
    capped = plan_of(rank_by_host_budget(pending, budgets, 5, global_limit=3))
    assert "TakeOrderedAndProject" in capped, capped
    window_keys = re.findall(r"windowspecdefinition\((\w+)#", capped)
    assert window_keys and set(window_keys) == {"host"}, capped


def test_fairness_boost_rescues_starving_seed(spark, tmp_path):
    """``CrawlConfig.fairness_boost`` in the loop: on a budget-1 host a
    low-priority seed (score 0) starves behind a chain of fresh
    discoveries (score 1) under the default order. Aged by 0.4 per wave
    it outranks the chain at wave 3 (0.4 * 3 = 1.2 > 1; 0.8 < 1 at wave 2)."""
    chain = [f"http://a.test/c{i}" for i in range(1, 7)]

    def page(link=None):
        body = f'<a href="{link}">next</a>' if link else ""
        return f"<html><body>{body}</body></html>".encode()

    rows = [("http://a.test/hi", page(chain[0])), ("http://a.test/low", page())]
    rows += [(u, page(n)) for u, n in zip(chain, chain[1:] + [None])]
    pages = spark.createDataFrame(rows, "url string, html binary")
    seeds = spark.createDataFrame(
        [("http://a.test/hi", 1.0), ("http://a.test/low", 0.0)], "url string, priority double"
    )

    def low_wave(boost):
        store_dir = str(tmp_path / f"store_fair_{boost}")
        config = CrawlConfig(
            max_depth=10, content_mode="links", use_bloom=False, default_budget=1,
            fairness_boost=boost,
        )
        run_crawl(spark, pages, seeds, store_dir, config)
        waves = {
            r.url: r.wave
            for r in WaveStore(spark, store_dir).read_table("results").collect()
        }
        assert len(waves) == len(rows)
        return waves["http://a.test/low"]

    assert low_wave(None) == 7  # hi, c1..c6, then low
    assert low_wave(0.4) == 3


def test_full_extraction_mode_writes_markdown(spark, site, site_dir, tmp_path):
    pages, seeds, _, _ = _inputs(spark, site_dir)
    store_dir = str(tmp_path / "store_full")
    config = CrawlConfig(max_depth=1, content_mode="full", use_bloom=False)
    run_crawl(spark, pages, seeds, store_dir, config)
    store = WaveStore(spark, store_dir)
    results = store.read_table("results").where(F.col("status") == "fetched")
    golden = {p["url"]: p["text"] for p in site["pages"]}
    for row in results.select("url", "raw_markdown", "title", "lang").collect():
        assert row.raw_markdown == golden[row.url], f"markdown mismatch for {row.url}"
        assert row.title
        assert row.lang


def test_dfs_strategy_matches_reference_preorder(spark, tmp_path):
    """DFS mode with wave size 1 must reproduce an explicit-stack DFS
    (children pushed reversed → first link popped next) exactly, in
    sequence, on a single-host site."""
    from urllib.parse import urlparse

    from crawl4ai_spark.frontier.bfs import CrawlConfig
    from crawl4ai_spark.synth.pages import generate_site, write_site_parquet
    from crawl4ai_spark.extraction.links import extract_links

    site = generate_site(n_hosts=1, cats=2, subs=2, prods=2)
    d = tmp_path / "site_dfs"
    write_site_parquet(site, str(d))
    pages_by_url = {p["url"]: p["html"] for p in site["pages"]}
    seed = site["seeds"][0]["url"]

    # reference: explicit stack, seen-at-push, children pushed reversed
    def python_dfs(max_depth=3):
        order = []
        stack = [(seed, 0)]
        seen = {seed}
        while stack:
            url, depth = stack.pop()
            order.append(url)
            if depth >= max_depth:
                continue
            html = pages_by_url.get(url)
            if html is None:
                continue
            links = extract_links(html.decode(), url)
            hrefs = [l["href"] for l in links["internal"] + links["external"]]
            hrefs = [h for h in hrefs
                     if urlparse(h).scheme in ("http", "https") and "." in urlparse(h).netloc]
            fresh = [h for h in hrefs if h not in seen]
            for h in fresh:
                seen.add(h)
            for h in reversed(fresh):
                stack.append((h, depth + 1))
        return order

    pages = spark.read.parquet(str(d / "pages.parquet"))
    seeds = spark.read.parquet(str(d / "seeds.parquet"))
    store_dir = str(tmp_path / "store_dfs")
    from crawl4ai_spark.frontier.bfs import run_crawl
    from crawl4ai_spark.frontier.store import WaveStore

    config = CrawlConfig(
        max_depth=3, content_mode="links", use_bloom=False,
        strategy="dfs", default_budget=1, max_waves=200,
    )
    run_crawl(spark, pages, seeds, store_dir, config)
    results = WaveStore(spark, store_dir).read_table("results")
    got = [r.url for r in results.orderBy("wave").collect()]
    want = python_dfs()
    assert got == want, f"\nspark: {got[:8]}...\nref:   {want[:8]}..."


def test_throttled_host_backoff_and_retirement(spark, tmp_path):
    """Pages with status_code 429 drive the RateLimiter state machine end
    to end: the throttled host is recorded (not attempted), backed off
    with doubling cooldowns, retried after each cooldown, and finally
    retired after max_retries — while a healthy host crawls normally and
    the loop terminates."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore

    def page(host, path, links=()):
        body = "".join(f'<a href="http://{host}{l}">l</a>' for l in links)
        return f"<html><body><h1>{path}</h1>{body}</body></html>".encode()

    rows = [
        ("http://ok.com/", page("ok.com", "/", ["/a", "/b"]), 200),
        ("http://ok.com/a", page("ok.com", "/a"), 200),
        ("http://ok.com/b", page("ok.com", "/b"), 200),
        ("http://slow.com/", page("slow.com", "/"), 429),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, status_code int")
    seeds = spark.createDataFrame(
        [("http://ok.com/",), ("http://slow.com/",)], "url string"
    )
    store_dir = str(tmp_path / "store")
    summary = run_crawl(
        spark, pages, seeds, store_dir,
        CrawlConfig(max_depth=2, content_mode="links", use_bloom=False, max_waves=30),
    )
    store = WaveStore(spark, store_dir)
    results = store.read_table("results").collect()
    by_url = {}
    for r in results:
        by_url.setdefault(r.url, []).append(r.status)
    # healthy host fully crawled
    assert "fetched" in by_url["http://ok.com/"]
    assert "fetched" in by_url["http://ok.com/a"]
    # throttled host: recorded as throttled (with cooldown-spaced retries,
    # so more than one attempt), never fetched
    assert set(by_url["http://slow.com/"]) == {"throttled"}
    assert len(by_url["http://slow.com/"]) > 1
    # throttled attempts don't count toward total_attempted
    assert summary["total_attempted"] == 3
    # the host ends retired (cooldown sentinel -1) after max_retries
    hs = {r.host: r for r in store.read_latest("host_state").collect()}
    assert hs["slow.com"].cooldown_waves == -1
    assert hs["slow.com"].fail_count > 3
    # backoff doubled the delay from base 0.25 (capped at 60)
    assert hs["slow.com"].current_delay > 0.25
    # metrics recorded throttles
    n_throttled = sum(r.n_throttled for r in store.read_table("metrics").collect())
    assert n_throttled == len(by_url["http://slow.com/"])


def test_scrape_mode_emits_crawlresult_surface(spark, site, site_dir, tmp_path):
    """content_mode="scrape" wires the scraping battery into the wave
    loop: fetched rows must carry cleaned_html, media (incl. tables when
    configured), rich scored links, and scrape_success — the CrawlResult
    surface of the reference's default flow (async_webcrawler.py:783,
    825-877)."""
    pages, seeds, _, _ = _inputs(spark, site_dir)
    store_dir = str(tmp_path / "store_scrape")
    config = CrawlConfig(
        max_depth=1,
        content_mode="scrape",
        use_bloom=False,
        scrape_options={"include_tables": True},
        fit_markdown=True,
    )
    run_crawl(spark, pages, seeds, store_dir, config)
    store = WaveStore(spark, store_dir)
    results = store.read_table("results").where(F.col("status") == "fetched")
    rows = results.select(
        "url", "cleaned_html", "media", "links", "scrape_success",
        "raw_markdown", "title", "fit_markdown",
    ).collect()
    assert rows
    golden = {p["url"]: p["text"] for p in site["pages"]}
    for row in rows:
        assert row.scrape_success
        assert row.cleaned_html and "<script" not in row.cleaned_html
        assert row.title
        assert row.fit_markdown is not None
        # rich link structs carry the scoring fields
        for link in (row.links.internal or []) + (row.links.external or []):
            assert link.intrinsic_score is not None
            assert link.total_score is not None
        assert row.media is not None
    # markdown in scrape mode comes from cleaned_html; on the synthetic
    # site (no boilerplate outside body) it still matches the golden text
    for row in rows:
        assert row.raw_markdown == golden[row.url], f"markdown mismatch for {row.url}"


def test_scrape_mode_score_from_links_best_first(spark, tmp_path):
    """score_from_links: discovered URLs inherit the scrape battery's
    total_score as frontier priority — a /docs/ link (intrinsic-boosted)
    must be selected before a /cart/ link under a budget of 1."""
    root = "http://s.test/"
    html_root = (
        '<html><body>'
        '<a href="http://s.test/docs/guide">deep dive guide here</a>'
        '<a href="http://s.test/cart/x">click here</a>'
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [(root, html_root.encode()), ("http://s.test/docs/guide", b"<html><body>g</body></html>"),
         ("http://s.test/cart/x", b"<html><body>c</body></html>")],
        "url string, html binary",
    )
    seeds = spark.createDataFrame([(root,)], "url string")
    store_dir = str(tmp_path / "store_bff_links")
    config = CrawlConfig(
        max_depth=1, content_mode="scrape", score_from_links=True,
        default_budget=1, use_bloom=False,
    )
    run_crawl(spark, pages, seeds, store_dir, config)
    store = WaveStore(spark, store_dir)
    results = store.read_table("results")
    by_wave = {
        r.url: r.wave for r in results.select("url", "wave").collect()
    }
    assert by_wave["http://s.test/docs/guide"] < by_wave["http://s.test/cart/x"]


def test_fit_markdown_drops_boilerplate_not_raw(spark, tmp_path):
    """fit_markdown (PruningContentFilter) must drop nav/footer
    boilerplate while raw_markdown keeps it (reference attaches
    fit_markdown to every CrawlResult when a filter is configured)."""
    body = (
        "<html><body>"
        '<nav class="menu"><a href="/a">x</a><a href="/b">y</a><a href="/c">z</a></nav>'
        "<article><p>"
        + "This is the long central article text that carries the page. " * 8
        + "</p></article>"
        '<footer class="footer"><a href="/p">p</a><a href="/q">q</a></footer>'
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [("http://f.test/a", body.encode())], "url string, html binary"
    )
    seeds = spark.createDataFrame([("http://f.test/a",)], "url string")
    store_dir = str(tmp_path / "store_fit")
    config = CrawlConfig(max_depth=0, content_mode="scrape", fit_markdown=True, use_bloom=False)
    run_crawl(spark, pages, seeds, store_dir, config)
    store = WaveStore(spark, store_dir)
    row = store.read_table("results").select("raw_markdown", "fit_markdown").head()
    assert "central article text" in row.raw_markdown
    assert "central article text" in row.fit_markdown
    assert row.fit_markdown != row.raw_markdown


def test_scrape_options_score_links_and_reserved_keys(spark, tmp_path):
    """scrape_options={"score_links": False} is a legitimate scrape_page
    option and must not collide with the loop's own kwargs (it used to
    raise TypeError: multiple values for 'score_links'); reserved keys
    get a clear error instead of a worker-side crash."""
    import pytest

    html = '<html><body><a href="http://s.test/docs/a">deep guide</a></body></html>'
    pages = spark.createDataFrame(
        [("http://s.test/", html.encode())], "url string, html binary"
    )
    seeds = spark.createDataFrame([("http://s.test/",)], "url string")
    config = CrawlConfig(
        max_depth=0, content_mode="scrape", use_bloom=False,
        scrape_options={"score_links": False},
    )
    run_crawl(spark, pages, seeds, str(tmp_path / "store_nosl"), config)
    store = WaveStore(spark, str(tmp_path / "store_nosl"))
    row = store.read_table("results").where(F.col("status") == "fetched").head()
    link = row.links.internal[0]
    # scoring off: intrinsic unset, total falls back to the neutral 5.0
    # (reference calculate_total_score without score_links)
    assert link.intrinsic_score is None
    assert link.total_score == 5.0

    # misplaced CrawlConfig fields in scrape_options: clear driver-side error
    bad = CrawlConfig(
        max_depth=0, content_mode="scrape", use_bloom=False,
        scrape_options={"query": "x"},
    )
    with pytest.raises(ValueError, match="CrawlConfig.query"):
        run_crawl(spark, pages, seeds, str(tmp_path / "store_bad"), bad)


def test_fit_markdown_in_links_mode(spark, tmp_path):
    """CrawlConfig(fit_markdown=True) must be honored in the default
    'links' content mode too (it used to be silently NULL)."""
    body = (
        "<html><body>"
        '<nav class="menu"><a href="/a">x</a><a href="/b">y</a><a href="/c">z</a></nav>'
        "<article><p>"
        + "This is the long central article text that carries the page. " * 8
        + "</p></article>"
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [("http://f.test/a", body.encode())], "url string, html binary"
    )
    seeds = spark.createDataFrame([("http://f.test/a",)], "url string")
    store_dir = str(tmp_path / "store_fit_links")
    config = CrawlConfig(max_depth=0, content_mode="links", fit_markdown=True, use_bloom=False)
    run_crawl(spark, pages, seeds, store_dir, config)
    store = WaveStore(spark, store_dir)
    row = store.read_table("results").select("fit_markdown").head()
    assert row.fit_markdown is not None
    assert "central article text" in row.fit_markdown


def test_score_from_links_requires_scrape_mode(spark, tmp_path):
    """score_from_links outside content_mode='scrape' must fail loudly,
    not silently degrade best-first to constant-score order."""
    import pytest

    pages = spark.createDataFrame(
        [("http://s.test/", b"<html><body>x</body></html>")], "url string, html binary"
    )
    seeds = spark.createDataFrame([("http://s.test/",)], "url string")
    bad = CrawlConfig(max_depth=0, score_from_links=True, use_bloom=False)
    with pytest.raises(ValueError, match="score_from_links"):
        run_crawl(spark, pages, seeds, str(tmp_path / "s"), bad)


def test_host_prior_steers_budgeted_selection_and_preserves_seen_set(
    spark, site, site_dir, tmp_path
):
    """CrawlConfig.host_prior: under a max_pages budget the boosted
    host's candidates win the (score desc, …) rank; without a budget
    the prior is pure reordering — the final URL-seen set is unchanged."""
    pages, seeds, _, _ = _inputs(spark, site_dir)

    # unbounded baseline: the full reachable set
    base_dir = str(tmp_path / "store_nop")
    run_crawl(
        spark, pages, seeds, base_dir,
        CrawlConfig(max_depth=3, content_mode="links", use_bloom=False),
    )
    base = WaveStore(spark, base_dir).read_table("results")
    full_set = {r.url for r in base.select("url").collect()}
    hosts = sorted({u.split("/")[2] for u in full_set})
    assert len(hosts) >= 2
    boosted_host = hosts[-1]  # losing host under plain url-asc tie-break
    prior = spark.createDataFrame([(boosted_host, 1.0)], "host string, prior double")

    n_seeds = seeds.count()
    cap = n_seeds + 2  # below the 3 depth-1 candidates each host offers
    capped_cfg = dict(max_depth=3, content_mode="links", use_bloom=False, max_pages=cap)

    plain_dir = str(tmp_path / "store_plain_cap")
    run_crawl(spark, pages, seeds, plain_dir, CrawlConfig(**capped_cfg))
    plain = {
        r.url
        for r in WaveStore(spark, plain_dir).read_table("results").select("url").collect()
    }

    boost_dir = str(tmp_path / "store_boost_cap")
    run_crawl(
        spark, pages, seeds, boost_dir,
        CrawlConfig(**capped_cfg, host_prior=prior, host_prior_weight=10.0),
    )
    boosted = {
        r.url
        for r in WaveStore(spark, boost_dir).read_table("results").select("url").collect()
    }

    def on_host(urls):
        return {u for u in urls if u.split("/")[2] == boosted_host}

    seed_urls = {r.url for r in seeds.select("url").collect()}
    # every budgeted non-seed slot goes to the boosted host, and strictly
    # more of the boosted host is attempted than in the unboosted run
    assert on_host(boosted - seed_urls) == boosted - seed_urls
    assert len(on_host(boosted)) > len(on_host(plain))

    # no budget → same seen set with and without the prior
    inv_dir = str(tmp_path / "store_boost_nocap")
    run_crawl(
        spark, pages, seeds, inv_dir,
        CrawlConfig(
            max_depth=3, content_mode="links", use_bloom=False,
            host_prior=prior, host_prior_weight=10.0,
        ),
    )
    inv = {
        r.url
        for r in WaveStore(spark, inv_dir).read_table("results").select("url").collect()
    }
    assert inv == full_set


def test_host_authority_prior_rollup(spark):
    from urllib.parse import urlsplit

    from crawl4ai_spark.operators.graph import hits, host_authority_prior, pagerank

    edges = [
        ("http://big.test/a", "http://big.test/b"),
        ("http://big.test/b", "http://big.test/a"),
        ("http://small.test/x", "http://big.test/a"),
        ("http://small.test/x", "http://small.test/y"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    node_scores = {
        "pagerank": pagerank(df, iters=3).select("node", F.col("rank").alias("s")),
        "hits": hits(df, iters=3).select("node", F.col("authority").alias("s")),
    }
    for kind, scores in node_scores.items():
        out = {r["host"]: r["prior"] for r in host_authority_prior(df, kind=kind).collect()}
        by_host = {}
        for r in scores.collect():
            host = urlsplit(r.node).hostname
            by_host[host] = by_host.get(host, 0.0) + r.s
        top = max(by_host.values())
        # scaled by the largest host only: the dominant host pins 1.0 and
        # the observed weak host keeps its ratio, above an unknown host's 0
        assert out == {h: round(v / top, 9) for h, v in by_host.items()}, kind
        assert out["big.test"] == 1.0 and 0.0 < out["small.test"] < 1.0, out
    with pytest.raises(ValueError):
        host_authority_prior(df, kind="degree")


def test_host_prior_duplicate_host_rows_do_not_fan_out(spark):
    """A host listed twice in ``host_prior`` boosts by its largest prior
    and leaves one row per candidate (the join no longer fans out):
    run_crawl reduces the prior to one row per host once per crawl."""
    from crawl4ai_spark.frontier.bfs import _apply_host_prior, _per_host_prior

    cand = spark.createDataFrame(
        [("http://a.test/1", "a.test", 1.0), ("http://a.test/2", "a.test", 1.0),
         ("http://b.test/1", "b.test", 1.0), ("http://c.test/1", "c.test", 1.0)],
        "url string, host string, score double",
    )
    prior = spark.createDataFrame(
        [("a.test", 0.2), ("a.test", 0.9), ("a.test", 0.9), ("b.test", 0.5)],
        "host string, prior double",
    )
    rows = _apply_host_prior(cand, _per_host_prior(prior), 2.0).collect()
    assert sorted((r.url, r.score) for r in rows) == [
        ("http://a.test/1", 2.8), ("http://a.test/2", 2.8),
        ("http://b.test/1", 2.0), ("http://c.test/1", 1.0),
    ]


def test_host_authority_prior_uses_frontier_host_rule(spark):
    """Prior hosts are the frontier's own ``host_col`` keys: scheme and
    host case, port and userinfo do not split a host, and a node that is
    not a URL is skipped instead of failing the job."""
    from crawl4ai_spark.functions.urlnorm import host_col
    from crawl4ai_spark.operators.graph import host_authority_prior

    edges = spark.createDataFrame(
        [
            ("HTTP://Example.com:8080/x", "http://example.com/y"),
            ("http://user@EXAMPLE.com/z", "http://other.test/a"),
            ("http://other.test/a", "HTTP://Example.com:8080/x"),
            ("not a url", "http://other.test/a"),
        ],
        "src string, dst string",
    )
    out = {r["host"]: r["prior"] for r in host_authority_prior(edges).collect()}
    assert set(out) == {"example.com", "other.test"}
    frontier_host = edges.select(host_col(F.col("src")).alias("h")).first()["h"]
    assert frontier_host in out


def _crawl_left_nothing(spark):
    """No Spark job of the crawl is still running and no frame it
    persisted is still cached (listener events flushed first, so a job
    that ended is no longer reported active)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_wave_releases_every_persisted_frame(spark, site, site_dir, tmp_path):
    """A wave whose fetch raises leaves nothing cached: the seed frontier,
    the crawl-lifetime frames and the band's work frames are all released
    on the way out."""
    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    bad = site["seeds"][0]["url"]
    pages = pages.withColumn(
        "html", F.when(F.col("url") == bad, F.raise_error(F.lit("bad page"))).otherwise(F.col("html"))
    )
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="bad page"):
        run_crawl(
            spark, pages, seeds, str(tmp_path / "store_fail"),
            CrawlConfig(max_depth=1, content_mode="links", n_bloom_shards=4),
            robots=robots, host_budgets=budgets,
        )
    _crawl_left_nothing(spark)


def test_failed_prefetch_surfaces_and_no_job_outlives_the_crawl(spark, site_dir, tmp_path):
    """The robots rules compile on the prefetch threads; when that fails,
    run_crawl raises the error at once, commits nothing, and returns only
    once every job it started has ended, here a slow budgets prefetch
    still running when the error arrives."""
    import time

    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    robots = robots.withColumn("rules_text", F.raise_error(F.lit("boom")).cast("string"))
    slow = F.udf(lambda b: time.sleep(2.0) or b, "int")
    budgets = budgets.withColumn("budget", slow("budget"))
    spark.catalog.clearCache()
    store_dir = str(tmp_path / "store_boom")
    with pytest.raises(Exception, match="boom"):
        run_crawl(
            spark, pages, seeds, store_dir,
            CrawlConfig(max_depth=1, content_mode="links", n_bloom_shards=4),
            robots=robots, host_budgets=budgets,
        )
    _crawl_left_nothing(spark)
    assert WaveStore(spark, store_dir).last_wave() is None


def _described_jobs(spark, crawl) -> dict:
    """``{job id: description}`` of every Spark job ``crawl()`` starts."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    crawl()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    descriptions = {}
    for job_id in set(tracker.getJobIdsForGroup(None)) - before:
        desc = sc._jsc.sc().statusStore().job(job_id).description()
        descriptions[job_id] = desc.get() if desc.isDefined() else None
    return descriptions


def test_crawl_jobs_carry_wave_and_phase(spark, site_dir, tmp_path):
    """Every job a crawl starts, on the driver thread or the pool, is
    described ``wave=<w> phase=<p>``; the caller's description is
    restored afterwards. The adaptive pre-stage jobs of a wave's shared
    ``work`` cache are described ``phase=extract``, not by whichever write
    reaches the cache first, so two crawls of the same inputs count the
    same jobs per wave and phase."""
    from collections import Counter

    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    sc = spark.sparkContext

    def crawl(store_dir):
        sc.setJobDescription("caller")
        try:
            run_crawl(
                spark, pages, seeds, store_dir,
                CrawlConfig(max_depth=2, content_mode="links", n_bloom_shards=4),
                robots=robots, host_budgets=budgets,
            )
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)

    counts = []
    for run in range(2):
        descriptions = _described_jobs(spark, lambda: crawl(str(tmp_path / f"store_desc{run}")))
        assert descriptions
        for job_id, desc in descriptions.items():
            assert desc is not None and desc.startswith("wave="), (job_id, desc)
        counts.append(Counter(descriptions.values()))
    phases = {desc.split("phase=")[1] for desc in counts[0]}
    assert {"prefetch.seeds", "prefetch.robots", "prefetch.host_budgets"} <= phases
    writes = {"write.results", "write.host_state", "write.frontier_delta", "bloom"}
    assert {"extract"} | writes <= phases
    # the metrics row is written on the driver, by no job
    assert "metrics" not in phases
    assert counts[0] == counts[1]


def test_lifetime_frames_fill_in_one_job_without_adaptive_plans(
    spark, site, site_dir, tmp_path, monkeypatch
):
    """Each crawl-lifetime frame (seeds, robots rules, budgets, prior) is
    cached under a fixed plan and filled by exactly one job: an adaptive
    cached plan runs its query stages as jobs inside the cache builder's
    lock, where planning the first wave waits on them."""
    from crawl4ai_spark.frontier import bfs

    pages, seeds, robots, budgets = _inputs(spark, site_dir)
    prior = spark.createDataFrame(
        [(r["host"], 1.0) for r in site["host_budgets"]], "host string, prior double"
    )
    cached_plans = []
    step = bfs._step

    def recording_step(*args, **kwargs):
        if not cached_plans:
            entries = spark._jsparkSession.sharedState().cacheManager().cachedData()
            for i in range(entries.size()):
                plan = entries.apply(i).cachedRepresentation().cacheBuilder().cachedPlan()
                cached_plans.append(plan.getClass().getSimpleName())
        return step(*args, **kwargs)

    monkeypatch.setattr(bfs, "_step", recording_step)
    spark.catalog.clearCache()
    descriptions = _described_jobs(
        spark,
        lambda: run_crawl(
            spark, pages, seeds, str(tmp_path / "store_lifetime"),
            CrawlConfig(max_depth=1, content_mode="links", n_bloom_shards=4, host_prior=prior),
            robots=robots, host_budgets=budgets,
        ),
    )
    prefetches = sorted(d for d in descriptions.values() if "phase=prefetch." in d)
    frames = ("host_budgets", "host_prior", "robots", "seeds")
    assert prefetches == [f"wave=0 phase=prefetch.{name}" for name in frames]
    assert len(cached_plans) == 4 and "AdaptiveSparkPlanExec" not in cached_plans, cached_plans


def test_host_budgets_read_in_one_task(spark, site, site_dir, tmp_path):
    """A Python-backed ``host_budgets`` frame of several partitions is read
    in one task (one Python worker, not one per partition), and the crawl
    equals that of the same budgets in one partition."""
    pages, seeds, robots, _ = _inputs(spark, site_dir)
    budget_rows = [(r["host"], r["budget"]) for r in site["host_budgets"]]
    # a host listed twice keeps its smallest budget
    budget_rows.append((budget_rows[0][0], 2))
    tracker = spark.sparkContext.statusTracker()

    def crawl(n_partitions: int):
        budgets = spark.createDataFrame(budget_rows, "host string, budget int").coalesce(
            n_partitions
        )
        assert budgets.rdd.getNumPartitions() == n_partitions
        store_dir = str(tmp_path / f"store_parts{n_partitions}")
        config = CrawlConfig(max_depth=2, content_mode="links", n_bloom_shards=4)
        descriptions = _described_jobs(
            spark,
            lambda: run_crawl(
                spark, pages, seeds, store_dir, config, robots=robots, host_budgets=budgets
            ),
        )
        (job_id,) = [
            job_id for job_id, desc in descriptions.items()
            if desc.endswith("prefetch.host_budgets")
        ]
        first_stage = min(tracker.getJobInfo(job_id).stageIds)
        assert tracker.getStageInfo(first_stage).numTasks == 1
        results = WaveStore(spark, store_dir).read_table("results").collect()
        seen = WaveStore(spark, store_dir).read_table("frontier_delta").select("url").collect()
        return (
            {r.url for r in results if r.status != "throttled"},
            {r.url for r in results if r.status == "fetched"},
            {r.url for r in seen},
        )

    assert crawl(4) == crawl(1)
