"""URL filters — frontier predicates compiled to native Column expressions.

Semantic contract: the reference's filter classes
(``crawl4ai/deep_crawling/filters.py``): FilterChain AND-composition
(:69-116), URLPatternFilter glob pre-categorization into
suffix/prefix/domain/regex fast paths (:119-256), ContentTypeFilter
extension map with extensionless-pass (:259-422), DomainFilter with
subdomain matching (:425-499).

Where the reference memoizes per-URL Python calls (lru_cache), we compile
each filter spec ONCE at plan-build time into a boolean Column; Catalyst
then pushes the conjunction down to the scan (predicate pushdown — the
distributed analog of the reference's "sync short-circuit first" trick is
Catalyst ordering cheap conjuncts first). Zero Python at row time.
"""

from __future__ import annotations

import fnmatch
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from crawl4ai_spark.functions.urlnorm import ascii_lower, host_col


def _path_col(url_col: Column) -> Column:
    return F.coalesce(F.parse_url(url_col, F.lit("PATH")), F.lit(""))


def compile_pattern_filter(patterns: list[str], reverse: bool = False):
    """Glob pattern filter → Column predicate factory.

    Pre-categorization (mirrors filters.py:165-215):
      ``*.ext``            → suffix fast path (endswith)
      ``prefix/*``         → prefix fast path (startswith)
      ``*.domain.tld/...`` → domain pattern (regex on host)
      anything else        → full regex via fnmatch.translate
      (``{a,b}`` alternation and ``**`` deep-glob supported)
    """

    def build(url_col: Column) -> Column:
        preds: list[Column] = []
        for pattern in patterns:
            # expand {a,b} alternation into a regex group
            expanded = pattern
            if "{" in pattern:
                expanded = re.sub(
                    r"\{([^}]*)\}", lambda m: "(?:%s)" % "|".join(map(re.escape, m.group(1).split(","))), pattern
                )
                body = expanded.replace("**", "\x00").replace("*", "[^/]*").replace("\x00", ".*")
                preds.append(url_col.rlike(f"^{body}$"))
                continue
            if pattern.startswith("*.") and "/" not in pattern and pattern.count(".") >= 2:
                # domain glob (*.example.com — ≥2 labels): match any
                # subdomain host; a single label (*.html) is a suffix glob
                preds.append(host_col(url_col).endswith(pattern[1:]))
                continue
            if pattern.startswith("*") and "*" not in pattern[1:]:
                # suffix glob: *.html
                preds.append(url_col.endswith(pattern[1:]))
                continue
            if pattern.endswith("/*") and "*" not in pattern[:-1]:
                preds.append(url_col.startswith(pattern[:-1]))
                continue
            regex = fnmatch.translate(pattern.replace("**", "\x00")).replace("\x00", ".*")
            preds.append(url_col.rlike(regex))
        combined = preds[0] if preds else F.lit(False)
        for p in preds[1:]:
            combined = combined | p
        return ~combined if reverse else combined

    return build


# Extension → content-type gate (compact slice of the reference's ~80-entry
# MIME map, filters.py:265-361; semantics: extensionless URLs PASS).
TEXT_EXTENSIONS = frozenset({"html", "htm", "xhtml", "php", "asp", "aspx", "jsp", "txt", "md"})
DOC_EXTENSIONS = frozenset({"pdf", "doc", "docx", "xls", "xlsx", "ppt", "pptx"})
IMAGE_EXTENSIONS = frozenset({"png", "jpg", "jpeg", "gif", "webp", "svg", "ico", "bmp"})
MEDIA_EXTENSIONS = frozenset({"mp3", "mp4", "avi", "mkv", "webm", "wav", "ogg", "flac"})

EXTENSION_RE = r"\.([A-Za-z0-9]{1,5})$"


def url_extension_col(url_col: Column) -> Column:
    """Lower-cased path extension ('' when extensionless)."""
    return ascii_lower(F.regexp_extract(_path_col(url_col), EXTENSION_RE, 1))


def compile_content_type_filter(allowed_extensions: frozenset[str] | set[str]):
    """Allow URLs whose extension is allowed OR absent (fail-open for
    extensionless, filters.py:413-414)."""
    allowed = sorted(allowed_extensions)

    def build(url_col: Column) -> Column:
        ext = url_extension_col(url_col)
        return (ext == "") | ext.isin(allowed)

    return build


def compile_domain_filter(
    allowed: list[str] | None = None, blocked: list[str] | None = None
):
    """Domain allow/block with subdomain semantics
    (d == p or d.endswith('.' + p)), filters.py:425-499."""

    def domain_match(host: Column, domain: str) -> Column:
        d = domain.lower()
        return (host == d) | host.endswith("." + d)

    def build(url_col: Column) -> Column:
        host = host_col(url_col)
        pred = F.lit(True)
        if blocked:
            blocked_pred = F.lit(False)
            for d in blocked:
                blocked_pred = blocked_pred | domain_match(host, d)
            pred = pred & ~blocked_pred
        if allowed:
            allowed_pred = F.lit(False)
            for d in allowed:
                allowed_pred = allowed_pred | domain_match(host, d)
            pred = pred & allowed_pred
        return pred

    return build


def filter_chain(*filter_builders):
    """AND-composition of compiled filters (FilterChain.apply)."""

    def build(url_col: Column) -> Column:
        pred = F.lit(True)
        for fb in filter_builders:
            pred = pred & fb(url_col)
        return pred

    return build


def compile_config_router(routes: list[tuple[str, str]], default: str = "default"):
    """Per-URL config routing (``async_dispatcher.py:101-125`` url_matcher
    → config selection): ordered (glob_pattern, config_id) routes compile
    to one when()-chain column; first match wins, like the reference."""

    def build(url_col: Column) -> Column:
        expr = None
        for pattern, config_id in routes:
            pred = compile_pattern_filter([pattern])(url_col)
            expr = F.when(pred, config_id) if expr is None else expr.when(pred, config_id)
        return (expr.otherwise(default)) if expr is not None else F.lit(default)

    return build
