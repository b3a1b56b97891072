"""URL canonicalization — the hot scalar functions of the crawl engine.

Clean-room implementations of the reference's URL-equality semantics
(behavioral contract: ``crawl4ai/utils.py:2216-2314`` ``normalize_url``,
``:2317-2373`` ``normalize_url_for_deep_crawl``, ``:2480-2528``
``get_base_domain``, ``:2531-2562`` ``is_external_url``;
``crawl4ai/deep_crawling/bfs_strategy.py:62-82`` validity gate). The deep-
crawl variant defines frontier dedup equality, so its quirks are preserved
deliberately:

- duplicate query keys are grouped under the FIRST occurrence of the key
  (dict-of-lists semantics of ``parse_qs``), not kept in positional order;
- blank query values are dropped (``parse_qs`` default);
- tracking params removed: utm_source/utm_medium/utm_campaign/ref/fbclid;
- fragment always dropped; empty path becomes "/"; netloc lowercased;
- trailing slashes are significant and kept.

The full variant (used for per-page link records) keeps blank values,
sorts query keys, drops the larger tracking set, and keeps the path
verbatim (no "/" default).

Spark integration: everything here is pure Python on builtin ``urllib`` so
it runs inside Arrow-batched pandas UDFs (Series in, Series out) — never as
row-at-a-time Python UDFs. At 100 TB the canonicalizer is called once per
discovered link; dedup-before-UDF (drop exact href duplicates per page
first) keeps the Python work proportional to unique links.
"""

from __future__ import annotations

import string
from urllib.parse import parse_qs, parse_qsl, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

# Tracking params stripped by the frontier (deep-crawl) canonicalizer.
FRONTIER_TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "ref", "fbclid")

# Larger set stripped by the full normalizer (per-page link records).
FULL_TRACKING_PARAMS = frozenset(
    {
        "utm_source",
        "utm_medium",
        "utm_campaign",
        "utm_term",
        "utm_content",
        "gclid",
        "fbclid",
        "ref",
        "ref_src",
    }
)

# ccSLD heuristic list for base-domain extraction.
_SECOND_LEVEL_LABELS = frozenset(
    {"co", "com", "org", "gov", "edu", "net", "mil", "int", "ac", "ad", "ae", "af", "ag"}
)

_SPECIAL_SCHEME_PREFIXES = ("mailto:", "tel:", "ftp:", "file:", "data:", "javascript:")

_SKIP_HREF_PREFIXES = ("#", "javascript:", "mailto:", "tel:")


# Fast-path recognizer: absolute http(s) URL that canonicalization cannot
# change — lowercase scheme+host, optional port, a non-empty path with no
# query/fragment/backslash/space and no dot-segments. For such hrefs the
# canonical form IS the input (urljoin of an absolute URL is identity, the
# host is already lowercase, there is no query to group and no fragment to
# strip), so the four urllib parse calls are skipped. ~70% of real-world
# anchors and ~all site-internal absolute links hit this path; equality
# with the slow path is pinned by a fuzz test.
import re as _re  # noqa: E402

_CANONICAL_ALREADY_RE = _re.compile(
    r"^https?://"
    r"[a-z0-9.\-]+(?::\d+)?"  # lowercase reg-name host, optional port
    # non-empty path; no query/fragment/backslash/space/semicolon and no
    # tab/CR/LF (urlsplit strips those; urlparse drops an empty ;params)
    r"/(?:[^/?#\\ \t\r\n;]*(?:/[^/?#\\ \t\r\n;]*)*)?$"
)
_DOT_SEGMENT_RE = _re.compile(r"/\.\.?(?:/|$)")


def canonicalize_for_frontier(href: str | None, base_url: str) -> str | None:
    """Frontier URL equality: resolve, lowercase host, strip fragment,
    group+de-track query params, default empty path to "/"."""
    if not href:
        return None
    href = href.strip()
    if _CANONICAL_ALREADY_RE.match(href) and not _DOT_SEGMENT_RE.search(href):
        return href
    absolute = urljoin(base_url, href)
    parts = urlparse(absolute)
    query = parts.query
    if query:
        grouped = parse_qs(query)  # first-seen key order, blanks dropped
        for param in FRONTIER_TRACKING_PARAMS:
            grouped.pop(param, None)
        query = urlencode(grouped, doseq=True) if grouped else ""
    return urlunparse(
        (parts.scheme, parts.netloc.lower(), parts.path or "/", parts.params, query, "")
    )


def canonicalize_full(
    href: str | None,
    base_url: str,
    *,
    keep_fragment: bool = False,
    sort_query: bool = True,
    drop_tracking: bool = True,
) -> str | None:
    """Full normalizer for per-page link records (keeps blanks, sorts keys)."""
    if not href:
        return None
    absolute = urljoin(base_url, href.strip())
    parts = urlparse(absolute)
    query = parts.query
    if query:
        pairs = parse_qsl(query, keep_blank_values=True)
        if drop_tracking:
            pairs = [(k, v) for k, v in pairs if k.lower() not in FULL_TRACKING_PARAMS]
        if sort_query:
            pairs.sort(key=lambda kv: kv[0])
        query = urlencode(pairs, doseq=True) if pairs else ""
    fragment = parts.fragment if keep_fragment else ""
    return urlunparse(
        (parts.scheme, parts.netloc.lower(), parts.path, parts.params, query, fragment)
    )


def get_base_domain(url: str) -> str:
    """Registrable-domain heuristic (port + www stripped, ccSLD-aware)."""
    try:
        host = urlparse(url).netloc.lower()
    except ValueError:
        return ""
    if not host:
        return ""
    host = host.split(":")[0]
    if host.startswith("www."):
        host = host[4:]
    labels = host.split(".")
    if len(labels) > 2 and labels[-2] in _SECOND_LEVEL_LABELS:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def is_external_url(url: str, base_domain: str) -> bool:
    """True when the URL leaves the seed's registrable domain.

    Quirk preserved from the reference contract: "www." is removed anywhere
    in the host string (substring replace), and suffix match is raw
    ``endswith`` — so equality semantics match the frontier's exactly.
    """
    lowered = url.lower()
    if lowered.startswith(_SPECIAL_SCHEME_PREFIXES):
        return True
    try:
        parsed = urlparse(url)
    except ValueError:
        return False
    if not parsed.netloc:
        return False
    url_domain = parsed.netloc.lower().split(":")[0].replace("www.", "")
    base = base_domain.lower().split(":")[0].replace("www.", "")
    return not url_domain.endswith(base)


def is_valid_crawl_url(url: str | None) -> bool:
    """Frontier admission gate: http(s), has a dotted host."""
    if not url:
        return False
    try:
        parsed = urlparse(url)
    except ValueError:
        return False
    return parsed.scheme in ("http", "https") and bool(parsed.netloc) and "." in parsed.netloc


def should_skip_href(href: str) -> bool:
    """Cheap pre-filter applied to raw hrefs before canonicalization."""
    return (not href) or href.startswith(_SKIP_HREF_PREFIXES)


# ──────────────────────────────────────────────────────────────────────────
# Spark surface
# ──────────────────────────────────────────────────────────────────────────

CANONICAL_STRUCT = StructType(
    [
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("base_domain", StringType()),
        StructField("valid", BooleanType()),
    ]
)


@pandas_udf(CANONICAL_STRUCT)
def udf_canonicalize(href: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized frontier canonicalizer.

    Returns struct(url, host, base_domain, valid). The per-batch memo dict
    exploits the heavy repetition of (href, base) pairs inside a page batch
    — the vectorized analog of the reference's lru_cache.
    """
    memo: dict[tuple, tuple] = {}
    out_url, out_host, out_dom, out_valid = [], [], [], []
    for raw_href, base in zip(href, base_url):
        key = (raw_href, base)
        hit = memo.get(key)
        if hit is None:
            if raw_href is None or should_skip_href(raw_href):
                hit = (None, None, None, False)
            else:
                canonical = canonicalize_for_frontier(raw_href, base or "")
                if canonical is None or not is_valid_crawl_url(canonical):
                    hit = (canonical, None, None, False)
                else:
                    host = urlparse(canonical).netloc
                    hit = (canonical, host, get_base_domain(canonical), True)
            memo[key] = hit
        out_url.append(hit[0])
        out_host.append(hit[1])
        out_dom.append(hit[2])
        out_valid.append(hit[3])
    return pd.DataFrame(
        {"url": out_url, "host": out_host, "base_domain": out_dom, "valid": out_valid}
    )


@pandas_udf(StringType())
def udf_base_domain(url: pd.Series) -> pd.Series:
    memo: dict[str, str] = {}
    return url.map(lambda u: "" if u is None else memo.setdefault(u, get_base_domain(u)))


def ascii_lower(col):
    """``F.lower`` for a column that is ASCII by construction: A-Z fold to
    a-z with ``translate``. Spark's ``lower`` maps case through ICU, whose
    tables load on the first ``lower`` a JVM evaluates (about 2 s of one
    task); ``translate`` needs none. Arbitrary text keeps ``F.lower``,
    where a non-ASCII character can fold into ASCII (U+212A → "k")."""
    return F.translate(col, string.ascii_uppercase, string.ascii_lowercase)


def host_col(url_col):
    """Native (JVM-side) host extraction for grouping/bucketing — stays in
    WholeStageCodegen; use the UDF only where canonical equality matters.
    An unparseable URL has a NULL host (``parse_url`` under ANSI mode
    would fail the job instead). ``java.net.URI`` reports a host only when
    it is ASCII (a non-ASCII authority parses as registry-based, host
    NULL), so the ASCII fold equals ``lower`` here."""
    return ascii_lower(F.try_parse_url(url_col, F.lit("HOST")))
