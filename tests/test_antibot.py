"""Anti-bot block detection (operators/antibot.py) — exact parity with
the reference's ``antibot_detector.is_blocked`` loaded as a test oracle
(the engine itself never imports the reference).

The fixture corpus covers every branch: all 13 tier-1 vendor signatures
(small page AND buried under >15 KB of CSS/JS), the 403/503 sub-ladder
(near-empty / tier-2 phrase / generic HTML / JSON-data fall-through),
tier-2 on other 4xx, 429, 200-near-empty, browser-wrapped JSON, and all
tier-3 structural-integrity outcomes.
"""

import importlib.util

import pyspark.sql.functions as F
import pytest

from crawl4ai_spark.operators.antibot import detect_blocked


@pytest.fixture(scope="module")
def ref_is_blocked():
    spec = importlib.util.spec_from_file_location(
        "c4ai_ref_antibot", "/root/reference/crawl4ai/antibot_detector.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.is_blocked


CONTENT_PAGE = (
    "<html><head><title>ok</title></head><body>"
    + "".join(f"<p>paragraph {i} with plenty of real text inside</p>" for i in range(40))
    + "</body></html>"
)

T1_SNIPPETS = [
    "Reference #18.2d351ab8.1557333295.a4e16ab",
    "Pardon Our Interruption",
    '<form class="challenge-form" action="x?__cf_chl_f_tk=abc">',
    '<span class="cf-error-code">1020</span>',
    '<script src="/cdn-cgi/challenge-platform/h/b/orchestrate/jsch/v1"></script>',
    "<script>window._pxAppId = 'PX123';</script>",
    '<script src="https://captcha.px-cdn.net/PX123/captcha.js"></script>',
    '<script src="https://captcha-delivery.com/captcha.js"></script>',
    '<iframe src="/_Incapsula_Resource?SWJIYLWA=1"></iframe>',
    "Incapsula incident ID: 443000190078",
    "Sucuri WebSite Firewall - Access Denied",
    "<script>KPSDK.scriptStart = KPSDK.now();</script>",
    "You've been blocked by network security.",
]

T2_SNIPPETS = [
    "Access Denied",
    "Checking your browser before accessing",
    "<title>Just a moment...</title>",
    '<div class="g-recaptcha" data-sitekey="x"></div>',
    '<div class="h-captcha" data-sitekey="x"></div>',
    "Access to This Page Has Been Blocked",
    "You have been blocked by security policy",
    "Request unsuccessful. Incapsula incident",
]


def _wrap(snippet, pad=0):
    filler = "<style>" + ("x" * pad) + "</style>" if pad else ""
    return f"<html><head>{filler}</head><body><p>{snippet}</p></body></html>"


def _cases():
    cases = []
    # tier 1 on small pages, any status
    for s in T1_SNIPPETS:
        cases.append((200, _wrap(s)))
    # tier 1 buried past the 15 KB snippet under inline CSS (deep scan)
    for s in T1_SNIPPETS[:4]:
        cases.append((200, _wrap(s, pad=20_000)))
    # 429 always blocked
    cases.append((429, CONTENT_PAGE))
    # 403/503 sub-ladder
    cases.append((403, ""))                         # near-empty
    cases.append((503, "tiny"))                     # near-empty
    for s in T2_SNIPPETS:
        cases.append((403, _wrap(s)))               # tier-2 phrase
        cases.append((403, _wrap(s, pad=20_000)))   # phrase past 10 KB, stripped scan
    cases.append((403, CONTENT_PAGE))               # generic HTML 403
    cases.append((403, '{"error": "forbidden"}'))   # JSON → falls through
    cases.append((403, '<html><body><pre>{"a":1}</pre></body></html>'))  # wrapped JSON
    cases.append((503, "<rss><channel></channel></rss>"))  # XML-ish data
    # other 4xx + tier 2 on short pages
    for s in T2_SNIPPETS:
        cases.append((404, _wrap(s)))
        cases.append((404, _wrap(s, pad=20_000)))   # >10 KB → NOT flagged
    # 200 near-empty vs data
    cases.append((200, "   "))
    cases.append((200, '{"ok": true}'))
    cases.append((200, "[1,2,3]"))
    # tier 3 structural
    cases.append((200, "<html><head><title>x</title></head></html>"))  # no body
    cases.append((200, "<html><body><script>app()</script>" + "<!-- x -->" * 50 + "</body></html>"))
    cases.append((200, "<html><body><div>" + ("y " * 30) + "</div></body></html>"))
    cases.append((200, "<html><body>" + ("<div>pad</div>" * 800) + "</body></html>"))  # 1 signal, >5KB
    cases.append((200, CONTENT_PAGE))               # clean page
    cases.append((200, CONTENT_PAGE + "<style>" + "z" * 60_000 + "</style>"))  # >50 KB skip
    cases.append((None, CONTENT_PAGE))              # no status at all
    cases.append((None, ""))
    return cases


def test_exact_parity_with_reference(spark, ref_is_blocked):
    cases = _cases()
    rows = [(i, sc, html) for i, (sc, html) in enumerate(cases)]
    df = spark.createDataFrame(rows, "case_id int, status_code int, html string")
    got = {
        r["case_id"]: (r["is_blocked"], r["block_reason"])
        for r in detect_blocked(df).collect()
    }
    mismatches = []
    n_blocked = 0
    for i, (sc, html) in enumerate(cases):
        want_blocked, want_reason = ref_is_blocked(sc, html)
        n_blocked += want_blocked
        have_blocked, have_reason = got[i]
        if (have_blocked, have_reason or "") != (want_blocked, want_reason):
            mismatches.append(
                (i, sc, html[:60], (want_blocked, want_reason), (have_blocked, have_reason))
            )
    assert not mismatches, mismatches[:5]
    # the corpus must exercise both outcomes heavily
    assert n_blocked >= 40 and n_blocked < len(cases)


def test_parity_on_synth_site(spark, site_dir, ref_is_blocked):
    """Every page of the synthetic crawl fixture (real-ish HTML) must
    agree with the reference — the false-positive guard."""
    import os

    pages = spark.read.parquet(os.path.join(site_dir, "pages.parquet")).select(
        "url", F.col("html").cast("string").alias("html"), F.lit(200).alias("status_code")
    )
    out = detect_blocked(pages).collect()
    for r in out:
        want = ref_is_blocked(200, r["html"])
        assert (r["is_blocked"], r["block_reason"] or "") == want, r["url"]


def test_plan_is_pure_projection(spark):
    df = spark.createDataFrame([(200, "<html/>")], "status_code int, html string")
    plan = detect_blocked(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


@pytest.mark.parametrize("depth_band", [None, 2], ids=["band1", "band2"])
@pytest.mark.parametrize("has_status", [True, False], ids=["status_code", "no_status_code"])
def test_detect_blocked_in_crawl_loop(spark, tmp_path, has_status, depth_band):
    """CrawlConfig(detect_blocked=True): a host serving a Cloudflare
    interstitial with HTTP 200 (invisible to the status-code throttle)
    takes the throttled path — recorded, never extracted, left pending
    under backoff — while clean hosts crawl normally. With the flag off the
    same page is treated as fetched content.

    Throttled rows never burn the max_pages budget, whether or not the
    pages table has a status_code column and whatever the band size: the
    summary, the results and the metrics agree on the attempted count, and
    every band size fetches the same set."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.frontier.bfs import CrawlConfig, run_crawl
    from crawl4ai_spark.frontier.store import WaveStore

    def page(host, path, links=()):
        # content-rich enough to pass the structural-integrity tier (a
        # bare <h1>+links shell is a "minimal_text" block by design)
        body = "".join(f'<a href="http://{host}{l}">link {l}</a>' for l in links)
        prose = "".join(
            f"<p>real article text paragraph {i} for {path} with many words</p>"
            for i in range(4)
        )
        return f"<html><body><h1>{path}</h1>{prose}{body}</body></html>".encode()

    interstitial = (
        "<html><head><title>Just a moment...</title></head><body>"
        '<form class="challenge-form" action="/x?__cf_chl_f_tk=tok123">'
        "Checking your browser</form></body></html>"
    ).encode()
    rows = [
        ("http://ok.com/", page("ok.com", "/", ["/a", "/b"]), 200),
        ("http://ok.com/a", page("ok.com", "/a"), 200),
        ("http://ok.com/b", page("ok.com", "/b"), 200),
        ("http://walled.com/", interstitial, 200),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, status_code int")
    if not has_status:
        pages = pages.drop("status_code")
    seeds = spark.createDataFrame(
        [("http://ok.com/",), ("http://walled.com/",)], "url string"
    )
    # the same sets for every band size and with or without status_code
    expected = {
        True: {
            "http://ok.com/": {"fetched"},
            "http://ok.com/a": {"fetched"},
            "http://ok.com/b": {"fetched"},
            "http://walled.com/": {"throttled"},
        },
        False: {
            "http://ok.com/": {"fetched"},
            "http://ok.com/a": {"fetched"},
            "http://walled.com/": {"fetched"},
        },
    }

    for flag, expect_walled in ((True, {"throttled"}), (False, {"fetched"})):
        store_dir = str(tmp_path / f"store_{flag}")
        summary = run_crawl(
            spark, pages, seeds, store_dir,
            CrawlConfig(
                max_depth=2, content_mode="links", use_bloom=False,
                max_waves=20, detect_blocked=flag, max_pages=3,
                depth_band=depth_band,
            ),
        )
        store = WaveStore(spark, store_dir)
        results = store.read_table("results").collect()
        by_url = {}
        for r in results:
            by_url.setdefault(r.url, set()).add(r.status)
        assert "fetched" in by_url["http://ok.com/"]
        assert "fetched" in by_url["http://ok.com/a"]
        assert by_url["http://walled.com/"] == expect_walled, flag
        assert by_url == expected[flag], flag
        n_attempted = sum(r.status != "throttled" for r in results)
        metrics_attempted = (
            store.read_table("metrics").agg(F.sum("n_attempted")).collect()[0][0]
        )
        assert summary["total_attempted"] == n_attempted == metrics_attempted == 3, flag
