"""``urlnorm.ascii_lower`` folds case without ICU, and it is used only
where the input is ASCII by construction: the URL host, the robots gate's
scheme stage and the path extension. Spark's ``lower`` loads ICU's case
tables on the first call in a JVM, so no frame of a default crawl wave
may plan a ``lower(``."""
import os

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawl4ai_spark.functions.urlnorm import host_col
from crawl4ai_spark.operators.filters import EXTENSION_RE, _path_col, url_extension_col
from crawl4ai_spark.operators.robots import RULES_SCHEMA, _SCHEME, _verdict_stages

# ASCII letters of both cases, the delimiters a URL parse splits on, and
# non-ASCII characters whose case mapping leaves or enters ASCII: U+212A
# KELVIN SIGN lowers to "k", U+0130 to "i" + U+0307; fullwidth letters,
# "ß" and "Σ"; the last two tokens are U+212A and U+0130 percent-encoded,
# which the robots gate decodes before it reads the scheme
URL_TOKENS = [
    *"aAzZkKiIsSxX", *":@[]%/?#", ".", "-", "0", "8",
    "K", "İ", "Ａ", "ｚ", "Ｋ", "ß", "Σ", "%E2%84%AA", "%C4%B0",
]
URL_PREFIXES = ["", "http://", "HTTP://", "hTtPs://", "http://u@", "ftp://"]
FIXED = [
    "http://[fe80::1%25eth0]/x",
    "http://[FE80::1%25Eth0]:8080/X.HTML",
    "http://User:Pw@Host.TEST:8080/a.PNG",
    "http://Example.COM:80/",
    "HTTP://EXAMPLE.com/index.Html",
    "hTtPs://MiXeD.Test/a/b.tXt?q=1#F",
    "%E2%84%AAttp://h.test/",
    "http://Kelvin.test/a.K",
    "http://İstanbul.test/x.İ",
    "http://ＡＢ.test/x.ｚ",
    "http://straße.test/Σ.ß",
]

url_strings = st.tuples(
    st.sampled_from(URL_PREFIXES), st.lists(st.sampled_from(URL_TOKENS), max_size=14)
).map(lambda t: t[0] + "".join(t[1]))


def _extension(url, fold):
    """The path extension, only where the URL parses (``parse_url`` raises
    on an unparseable URL under ANSI mode)."""
    return F.when(F.try_parse_url(url, F.lit("PATH")).isNotNull(), fold(url))


@given(st.lists(url_strings, min_size=1, max_size=30))
@example(FIXED)
@settings(max_examples=30, deadline=None)
def test_ascii_fold_equals_lower_on_url_columns(spark, batch):
    url = F.col("url")
    raw_host = F.try_parse_url(url, F.lit("HOST"))
    # the robots stages up to the scheme, for a host that has rules
    df = spark.createDataFrame([(u,) for u in batch], "url string").withColumn(
        "_rb", F.from_json(F.lit('{"deny_all": false, "rules": []}'), RULES_SCHEMA)
    )
    stages = dict(_verdict_stages(url))
    for name in ("_rb_u", "_rb_s", "_rb_sch"):
        df = df.withColumn(name, stages[name])
    rows = df.select(
        "url",
        raw_host.alias("raw_host"),
        host_col(url).alias("host"),
        F.lower(raw_host).alias("host_lower"),
        F.col("_rb_sch").alias("scheme"),
        F.lower(F.regexp_extract("_rb_s", f"^({_SCHEME}):", 1)).alias("scheme_lower"),
        _extension(url, url_extension_col).alias("ext"),
        _extension(url, lambda u: F.lower(F.regexp_extract(_path_col(u), EXTENSION_RE, 1))).alias(
            "ext_lower"
        ),
    ).collect()
    for r in rows:
        assert r.raw_host is None or r.raw_host.isascii(), r
        assert r.host == r.host_lower, r
        assert r.scheme == r.scheme_lower, r
        assert r.ext == r.ext_lower, r


def test_fixed_urls_fold_as_expected(spark):
    got = {
        r.url: (r.host, r.ext)
        for r in spark.createDataFrame([(u,) for u in FIXED], "url string")
        .select(
            "url",
            host_col(F.col("url")).alias("host"),
            _extension(F.col("url"), url_extension_col).alias("ext"),
        )
        .collect()
    }
    assert got["http://[FE80::1%25Eth0]:8080/X.HTML"] == ("[fe80::1%25eth0]", "html")
    assert got["http://User:Pw@Host.TEST:8080/a.PNG"] == ("host.test", "png")
    assert got["hTtPs://MiXeD.Test/a/b.tXt?q=1#F"] == ("mixed.test", "txt")
    # a non-ASCII authority has no host, so nothing non-ASCII reaches the fold
    assert got["http://Kelvin.test/a.K"][0] is None


def test_default_wave_plans_no_icu_lower(spark, site_dir):
    """The seed frontier, the persisted wave ``work`` frame (rank, robots
    gate, fetch join, extraction) and discovery of a default-config crawl
    with a robots table: none of their executed plans calls ``lower``."""
    from crawl4ai_spark.frontier.bfs import CrawlConfig, _State, _discover, _prepare_seeds, _step
    from crawl4ai_spark.operators.robots import compile_robots

    def read(t):
        return spark.read.parquet(os.path.join(site_dir, f"{t}.parquet"))

    config = CrawlConfig()
    rules = compile_robots(read("robots"), config.user_agent).persist()
    seeds = _prepare_seeds(read("seeds"))
    step = _step(
        config, read("pages").select("url", "html"), rules, None,
        _State(seeds, None, None, None), [], None, 0, None, None, False,
    )
    try:
        fresh = _discover(step.work.where(F.col("status") == "fetched"), 0, config)
        for name, df in (("seeds", seeds), ("work", step.work), ("discover", fresh)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the host rule (and, in work, the robots scheme stage) is planned
            assert "ParseUrlEvaluator(" in plan, (name, plan)
            assert name != "work" or "_rb_sch" in plan, plan
            assert "lower(" not in plan, (name, plan)
        assert fresh.count() > 0
    finally:
        for c in step.cached:
            c.unpersist()
        rules.unpersist()
