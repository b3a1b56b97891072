"""Correctness gate: what a crawl of a generated site must produce.

The expected crawl comes from ``tests/reference_crawler.reference_crawl``
(a single-process dict-and-set crawler) run on the same seeds, robots
rules, budgets and depth. The expected markdown bytes of every fetched
page come from the extraction library called in this process, one page
at a time, with the options the crawl's UDF uses. A crawl output is
compared URL by URL; a URL is wrong when its wave, its status or its
markdown bytes differ, when it is missing or extra, or when it is
missing from or extra in the URL-seen set.

Run ``python3 perfbench/oracle.py`` for the gate's self-test: it must
report errors when one URL is dropped or one byte is changed.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Expected:
    # url -> (wave, status) for every URL the crawl must attempt
    outcome: dict[str, tuple[int, str]]
    seen: set[str]
    # url -> markdown columns, in the order run.py reads them back
    markdown: dict[str, tuple] = field(default_factory=dict)


def golden_markdown(html: bytes, url: str, content_mode: str) -> tuple:
    """Markdown bytes of one fetched page, computed in this process the
    way the crawl's extraction UDF computes them with ``fit_markdown``
    on: ``(raw_markdown, fit_markdown)``; links mode has no raw
    markdown and filters the raw html."""
    from crawl4ai_spark.extraction.content_filter import fit_markdown

    doc = html.decode("utf-8", errors="replace")
    if content_mode == "links":
        return (None, fit_markdown(doc))
    from crawl4ai_spark.extraction.markdown import generate_markdown_result
    from crawl4ai_spark.extraction.scrape import scrape_page

    cleaned = scrape_page(doc, url, score_links=True)["cleaned_html"]
    return (generate_markdown_result(cleaned, url)["raw_markdown"], fit_markdown(cleaned))


def expected_crawl(
    site: dict, budget: int | None, max_depth: int, max_waves: int, content_mode: str
) -> Expected:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tests.reference_crawler import reference_crawl

    ref = reference_crawl(
        site["pages"],
        site["seeds"],
        budgets={h: budget for h in site["hosts"]} if budget else None,
        robots_rules=site["robots"],
        max_depth=max_depth,
    )
    waves = ref["waves"][:max_waves]
    if len(ref["waves"]) <= max_waves:
        seen = set(ref["frontier"])
    else:
        # a crawl cut by max_waves has seen the seeds plus the links of the
        # pages it fetched, by the reference crawler's own rules
        from urllib.parse import urlparse

        from crawl4ai_spark.extraction.links import extract_links

        seen = set(site["seeds"])
        for wave in waves:
            for url in wave["fetched"]:
                if ref["frontier"][url][0] + 1 > max_depth:
                    continue
                links = extract_links(site["pages"][url].decode("utf-8"), url)
                for link in links["internal"] + links["external"]:
                    parts = urlparse(link["href"])
                    if parts.scheme in ("http", "https") and "." in parts.netloc:
                        seen.add(link["href"])
    outcome = {}
    markdown = {}
    for w, wave in enumerate(waves):
        for status, key in (("fetched", "fetched"), ("robots_denied", "denied"), ("missing", "missing")):
            for url in wave[key]:
                outcome[url] = (w, status)
        for url in wave["fetched"]:
            markdown[url] = golden_markdown(site["pages"][url], url, content_mode)
    return Expected(outcome=outcome, seen=seen, markdown=markdown)


def wrong_urls(expected: Expected, rows: list[tuple], seen: set[str]) -> set[str]:
    """URLs a crawl got wrong. ``rows`` are results-table rows ``(url,
    wave, status, raw_markdown, fit_markdown)``; ``seen`` is the URL set
    of the frontier table."""
    wrong: set[str] = set()
    got: dict[str, tuple] = {}
    for url, wave, status, *md in rows:
        if url in got:
            wrong.add(url)  # attempted twice
        got[url] = ((wave, status), tuple(md))
    for url in expected.outcome.keys() | got.keys():
        if url not in got or got[url][0] != expected.outcome.get(url):
            wrong.add(url)
        elif url in expected.markdown and got[url][1] != expected.markdown[url]:
            wrong.add(url)
    return wrong | (seen ^ expected.seen)


def _self_test() -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs

    site = inputs.make_site(3, inputs.Shape(n_hosts=3, sections=2, leaves=4, robots_hosts=1))
    exp = expected_crawl(site, None, 2, 3, "scrape")
    rows = [(u, w, s, *exp.markdown.get(u, (None, None))) for u, (w, s) in exp.outcome.items()]
    fetched = next(i for i, r in enumerate(rows) if r[2] == "fetched")
    url, wave, status, raw, fit = rows[fetched]
    flipped = raw[:-1] + chr(ord(raw[-1]) ^ 1)
    cases = {
        "exact output": (rows, exp.seen, 0),
        "one URL dropped": (rows[:fetched] + rows[fetched + 1:], exp.seen, 1),
        "one markdown byte changed": (
            rows[:fetched] + [(url, wave, status, flipped, fit)] + rows[fetched + 1:],
            exp.seen,
            1,
        ),
        "one URL missing from the seen set": (rows, exp.seen - {url}, 1),
        "one URL in the wrong wave": (
            rows[:fetched] + [(url, wave + 1, status, raw, fit)] + rows[fetched + 1:],
            exp.seen,
            1,
        ),
    }
    failures = 0
    for name, (case_rows, case_seen, want) in cases.items():
        got = len(wrong_urls(exp, case_rows, case_seen))
        ok = got == want
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {got} wrong of {len(exp.seen)} (want {want})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(_self_test())
