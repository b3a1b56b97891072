"""The JVM robots gate ≡ stdlib ``RobotFileParser.can_fetch`` (with the
reference's glob rules), plus the plan shape it buys: the only Python
operator left in a wave's work stage is the extraction UDF."""
import os
import unicodedata
import urllib.parse
from datetime import datetime, timedelta

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawl4ai_spark.operators.robots import (
    NFKC_NETLOC_RAISERS,
    _make_parser,
    attach_robots_verdict,
)

NOW = datetime(2026, 1, 15, 12, 0, 0)
AGENTS = ("*", "MyBot/2.1")

# the adversarial URL alphabet: escapes (valid, malformed, surrogate-range,
# truncated UTF-8), the delimiters urlparse splits on, whitespace it strips
# or deletes, non-ASCII, and netlocs CPython rejects (bracketed hosts,
# characters whose NFKC form adds "/?#@:")
URL_TOKENS = [
    "/", "/", "/", "a", "b", "x", "~", ".", "-", "_", "*", "$", "&", "=", "!", ",",
    "%", "%%", "%4", "%41", "%2f", "%2F", "%2A", "%25", "%3F", "%23", "%3B", "%7E",
    "%20", "%ED", "%A0", "%C3", "%A9", "%E2%82", "%F0", "%FF", "%ed%a0%80",
    "+", ";", ";", "?", "?", "#", "#", "[", "]", ":", "@", " ", "\t", "\n", "\r",
    "\x00", "\x0b", "é", "中", "😀", " ", "\x85", "�", "／", "℀",
    "http://", "HTTP://", "//", "ftp:", "mailto:",
    "[::1]", "[v1.x]", "[v1.]", "[1.2.3.4]", "[fe80::1%eth0]", "[::ffff:1.2.3.4]",
    "[1:2:3:4:5:6:7:8]", "[1::2::3]", "[::1%]", "[V1.x]",
]
URL_PREFIXES = ["", "http://h.test", "http://h.test/", "https://u@h.test:80/", "http://[::1]/", " http://h.test/"]
PATH_TOKENS = [
    "/", "a", "a/", "b", "x", "*", "**", ".png", "$", "~", "%41", "%2A", "%2F", "%7E",
    "%25", "%", "%C3%A9", "é", "%ED%A0%80", ";", "?", "#", " ", "+", "http://h.test/",
]

rule_lines = st.tuples(
    st.sampled_from(["Allow", "Disallow", "disallow"]),
    st.lists(st.sampled_from(PATH_TOKENS), max_size=4).map("".join),
)
groups = st.tuples(
    st.lists(st.sampled_from(["*", "mybot", "MyBot", "other", ""]), min_size=1, max_size=2),
    st.lists(rule_lines, max_size=5),
    st.booleans(),  # blank line after the group
)
robots_texts = st.lists(groups, max_size=3).map(
    lambda gs: "\n".join(
        "\n".join(
            [f"User-agent: {a}" for a in agents]
            + [f"{kind}: {path}" for kind, path in rules]
            + ([""] if blank else [])
        )
        for agents, rules, blank in gs
    )
)
url_strings = st.tuples(
    st.sampled_from(URL_PREFIXES), st.lists(st.sampled_from(URL_TOKENS), max_size=10)
).map(lambda t: t[0] + "".join(t[1]))
# rules age in days: None = no fetch_time; more than 7 = stale (allow all)
hosts = st.lists(
    st.tuples(robots_texts, st.sampled_from([None, 0, 6, 7, 8, 30])), min_size=1, max_size=3
)


def _can_fetch(rules_text, agent, url):
    """The reference verdict: stdlib parser with glob rules bound, fail-open."""
    if rules_text is None or not rules_text.strip():
        return True
    parser = _make_parser(rules_text)
    if parser is None:
        return True
    try:
        return bool(parser.can_fetch(agent, url or ""))
    except Exception:
        return True


def _raises(url):
    try:
        urllib.parse.urlparse(urllib.parse.unquote(url))
        return False
    except ValueError:
        return True


RAISING = [
    "http://[::1/x",  # unbalanced bracket
    "http://::1]/x",
    "http://[1.2.3.4]/x",  # IPv4 in brackets
    "http://[v1.]/x",  # bad IPvFuture
    "http://[::1%]/x",  # empty scope
    "http://h／.test/x",  # fullwidth solidus: NFKC adds "/"
    "http://h%EF%BC%9F.test/x",  # escaped fullwidth "?"
    "http://h℀.test/x",  # "a/c"
]


@given(hosts, st.lists(url_strings, min_size=1, max_size=20))
@example(
    [("User-agent: *\nDisallow: /", 0), ("User-agent: *\nDisallow: *", 0)],
    RAISING + ["http://h.test/x", "http://h.test?q", "http://[::1]/x", "http://[v1.x]/x"],
)
@example(
    [("User-agent: *\nDisallow: /a", age) for age in (None, 0, 7, 8)],
    ["http://h.test/a", "http://h.test/b"],
)
@example(
    [("User-agent: mybot\nAllow: /a\nDisallow: /\n\nUser-agent: *\nDisallow: /a", 0)],
    ["http://h.test/a", "http://h.test/b", "http://h.test/%61", "http://h.test/a;", "http://h.test/?"],
)
@settings(max_examples=25, deadline=None)
def test_robots_gate_matches_can_fetch(spark, host_rules, urls):
    names = [f"h{i}.test" for i in range(len(host_rules))]
    robots = spark.createDataFrame(
        [
            (h, text, None if age is None else NOW - timedelta(days=age))
            for h, (text, age) in zip(names, host_rules)
        ],
        "host string, rules_text string, fetch_time timestamp",
    )
    wave = spark.createDataFrame([(h, u) for h in names for u in urls], "host string, url string")
    for agent in AGENTS:
        got = {
            (r.host, r.url): r.robots_allowed
            for r in attach_robots_verdict(wave, robots, agent, now=F.lit(NOW)).collect()
        }
        for h, (text, age) in zip(names, host_rules):
            fresh = age is not None and age <= 7
            for u in urls:
                want = _can_fetch(text, agent, u) if fresh else True
                assert got[(h, u)] is want, (agent, text, age, u)


def test_robots_gate_fails_open_where_cpython_raises(spark):
    assert all(_raises(u) for u in RAISING)
    robots = spark.createDataFrame(
        [("h.test", "User-agent: *\nDisallow: /")], "host string, rules_text string"
    )
    wave = spark.createDataFrame([("h.test", u) for u in RAISING + ["http://h.test/x"]], "host string, url string")
    got = {r.url: r.robots_allowed for r in attach_robots_verdict(wave, robots).collect()}
    assert got.pop("http://h.test/x") is False
    assert all(got.values()), got


def test_nfkc_netloc_raisers_match_unicodedata():
    """The hardcoded netloc characters are exactly those whose NFKC form
    contains one of the characters ``urllib.parse._checknetloc`` rejects."""
    derived = "".join(
        chr(cp)
        for cp in range(0x80, 0x110000)
        if not 0xD800 <= cp <= 0xDFFF
        and any(c in unicodedata.normalize("NFKC", chr(cp)) for c in "/?#@:")
    )
    assert derived == NFKC_NETLOC_RAISERS


# ── plan shape ───────────────────────────────────────────────────────────


def _plan_nodes(node, top=True):
    """Physical operator names of a plan, through AQE and query stages.
    Only the outermost cached relation (the frame itself) is entered: a
    cached input's operators ran once, outside this plan."""
    name = node.nodeName()
    yield name
    if name == "InMemoryRelation":
        if top:
            yield from _plan_nodes(node.cachedPlan(), False)
        return
    top = top and name in ("AdaptiveSparkPlan", "InMemoryTableScan")
    kids = []
    for seq in (node.children(), node.innerChildren()):
        kids += [seq.apply(i) for i in range(seq.size())]
    if name == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    elif name.endswith("QueryStage"):
        kids.append(node.plan())
    for k in kids:
        yield from _plan_nodes(k, top)


@pytest.mark.parametrize(
    "mode,fit", [("links", True), ("scrape", False)], ids=["links-fit_markdown", "scrape"]
)
def test_wave_work_runs_one_python_operator(spark, site_dir, mode, fit):
    from crawl4ai_spark.frontier.bfs import CrawlConfig, _State, _prepare_seeds, _step
    from crawl4ai_spark.operators.robots import compile_robots

    def read(t):
        return spark.read.parquet(os.path.join(site_dir, f"{t}.parquet"))

    config = CrawlConfig(max_depth=1, content_mode=mode, fit_markdown=fit, use_bloom=False)
    rules = compile_robots(read("robots"), config.user_agent).persist()
    state = _State(_prepare_seeds(read("seeds")), None, None, None)
    step = _step(
        config, read("pages").select("url", "html"), rules, read("host_budgets"),
        state, [], None, 0, None, None, False,
    )
    try:
        assert step.work.count() > 0
        names = list(_plan_nodes(step.work._jdf.queryExecution().executedPlan()))
        assert names.count("ArrowEvalPython") == 1, names
    finally:
        for c in step.cached:
            c.unpersist()
        rules.unpersist()


def test_first_wave_state_plans_no_python_rdd(spark):
    from crawl4ai_spark.frontier.adaptive import _KB_SCHEMA, _empty
    from crawl4ai_spark.operators.politeness import update_host_state

    outcomes = spark.range(3).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".test")).alias("host"),
        F.col("id").alias("n_ok"),
        (F.col("id") % 2).alias("n_throttled"),
    )
    state = update_host_state(None, outcomes)
    empty = _empty(spark, _KB_SCHEMA)
    for df in (state, empty):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert empty.count() == 0 and empty.schema.simpleString() == "struct<url:string,text:string,wave:int>"
    got = {r.host: (r.current_delay, r.fail_count, r.cooldown_waves) for r in state.collect()}
    # first-wave transitions from the base state: h1 throttled → doubled
    # delay, one failure, one-wave cooldown
    assert got == {"h0.test": (0.25, 0, 0), "h1.test": (0.5, 1, 1), "h2.test": (0.25, 0, 0)}
