"""Arrow-batched pandas UDFs wrapping the pure-Python extraction library.

Three deliberate projections (mirrors the reference's prefetch fast path,
``crawl4ai/async_webcrawler.py:742-761``, and its content_source dispatch):

- ``udf_extract_links`` — the cheap frontier-expansion path: anchors only.
- ``udf_full_extract`` — raw-html path: links + markdown struct + head
  meta, decoding/parsing each page once per batch.
- ``udf_scrape`` — the reference's default pipeline: scraping battery →
  cleaned_html → markdown, plus media structs and rich links.

Keeping them separate lets Catalyst prune the expensive full extraction off
links-only waves (column pruning reaches the parquet scan: a wave that only
selects links never materializes markdown).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from crawl4ai_spark.extraction.links import extract_links
from crawl4ai_spark.extraction.markdown import generate_markdown_result
from crawl4ai_spark.extraction.meta import extract_head_meta

LINK_STRUCT = StructType(
    [
        StructField("href", StringType()),
        StructField("text", StringType()),
        StructField("title", StringType()),
    ]
)
LINKS_SCHEMA = StructType(
    [
        StructField("internal", ArrayType(LINK_STRUCT)),
        StructField("external", ArrayType(LINK_STRUCT)),
    ]
)
MARKDOWN_SCHEMA = StructType(
    [
        StructField("raw_markdown", StringType()),
        StructField("markdown_with_citations", StringType()),
        StructField("references_markdown", StringType()),
    ]
)
HEAD_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("keywords", StringType()),
        StructField("author", StringType()),
        StructField("lang", StringType()),
    ]
)
FULL_SCHEMA = StructType(
    [
        StructField("links", LINKS_SCHEMA),
        StructField("markdown", MARKDOWN_SCHEMA),
        StructField("head", HEAD_SCHEMA),
    ]
)


def _decode(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


def _links_tuple(html: str, url: str) -> tuple:
    links = extract_links(html, url or "")
    return (
        [(d["href"], d["text"], d.get("title", "")) for d in links["internal"]],
        [(d["href"], d["text"], d.get("title", "")) for d in links["external"]],
    )


@pandas_udf(LINKS_SCHEMA)
def udf_extract_links(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    internal, external = [], []
    for h, u in zip(html, url):
        i, e = _links_tuple(_decode(h), u)
        internal.append(i)
        external.append(e)
    return pd.DataFrame({"internal": internal, "external": external})


@pandas_udf(HEAD_SCHEMA)
def udf_head_meta(html: pd.Series) -> pd.DataFrame:
    rows = []
    for h in html:
        meta = extract_head_meta(_decode(h))
        rows.append(
            {
                "title": meta["title"],
                "description": meta["description"],
                "keywords": meta["keywords"],
                "author": meta["author"],
                "lang": meta["lang"],
            }
        )
    return pd.DataFrame(rows)


@pandas_udf(FULL_SCHEMA)
def udf_full_extract(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Full extraction: one decode per page, links + markdown + head."""
    out = []
    for h, u in zip(html, url):
        doc = _decode(h)
        meta = extract_head_meta(doc)
        out.append(
            {
                "links": _links_tuple(doc, u),
                "markdown": generate_markdown_result(doc, u or ""),
                "head": {
                    "title": meta["title"],
                    "description": meta["description"],
                    "keywords": meta["keywords"],
                    "author": meta["author"],
                    "lang": meta["lang"],
                },
            }
        )
    return pd.DataFrame(out)


def lang_col(html_col: Column) -> Column:
    """Native (JVM regex) `<html lang>` extraction — no Python involved.

    Matches ``extraction.meta.extract_lang`` on well-formed documents; the
    wave pipeline uses this fast path and falls back to the UDF only when
    byte-parity with the head parser is required.
    """
    head = F.substring(html_col.cast("string"), 1, 2048)
    return F.regexp_extract(head, r"(?i)<html[^>]*\blang=[\"']?([A-Za-z-]+)", 1)


@pandas_udf(StringType())
def udf_fit_markdown(html: pd.Series) -> pd.Series:
    """Pruned-content markdown (PruningContentFilter → fit_markdown)."""
    from crawl4ai_spark.extraction.content_filter import fit_markdown

    return pd.Series([fit_markdown(_decode(h)) if h is not None else "" for h in html])


# ──────────────────────────────────────────────────────────────────────────
# Scraping stage (cleaned_html + media + rich links; SURVEY §2.5)
# ──────────────────────────────────────────────────────────────────────────

MEDIA_ITEM_STRUCT = StructType(
    [
        StructField("src", StringType()),
        StructField("alt", StringType()),
        StructField("desc", StringType()),
        StructField("score", IntegerType()),
        StructField("type", StringType()),
        StructField("group_id", IntegerType()),
        StructField("format", StringType()),
        # width is int-coerced exactly like the reference MediaItem
        # (models.py:352-370 _coerce_int: '2x'/'auto' → NULL); the raw
        # srcset descriptor is kept separately in width_desc
        StructField("width", IntegerType()),
        StructField("width_desc", StringType()),
    ]
)
TABLE_ITEM_STRUCT = StructType(
    [
        StructField("headers", ArrayType(StringType())),
        StructField("rows", ArrayType(ArrayType(StringType()))),
        StructField("caption", StringType()),
    ]
)
RICH_LINK_STRUCT = StructType(
    [
        StructField("href", StringType()),
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("base_domain", StringType()),
        StructField("intrinsic_score", DoubleType()),
        StructField("contextual_score", DoubleType()),
        StructField("total_score", DoubleType()),
    ]
)
MEDIA_SCHEMA = StructType(
    [
        StructField("images", ArrayType(MEDIA_ITEM_STRUCT)),
        StructField("videos", ArrayType(MEDIA_ITEM_STRUCT)),
        StructField("audios", ArrayType(MEDIA_ITEM_STRUCT)),
        StructField("tables", ArrayType(TABLE_ITEM_STRUCT)),
    ]
)
RICH_LINKS_SCHEMA = StructType(
    [
        StructField("internal", ArrayType(RICH_LINK_STRUCT)),
        StructField("external", ArrayType(RICH_LINK_STRUCT)),
    ]
)
SCRAPE_SCHEMA = StructType(
    [
        StructField("cleaned_html", StringType()),
        StructField("media", MEDIA_SCHEMA),
        StructField("links", RICH_LINKS_SCHEMA),
        StructField("markdown", MARKDOWN_SCHEMA),
        StructField("fit_markdown", StringType()),
        StructField("head", HEAD_SCHEMA),
        StructField("success", BooleanType()),
    ]
)


def _coerce_int(v):
    """Reference MediaItem width coercion (models.py:352-359)."""
    if v is None:
        return None
    try:
        return int(v)
    except (ValueError, TypeError):
        return None


def _media_rows(items: list[dict]) -> list[dict]:
    return [
        {
            "src": m.get("src"),
            "alt": m.get("alt"),
            "desc": m.get("desc"),
            "score": m.get("score"),
            "type": m.get("type"),
            "group_id": m.get("group_id"),
            "format": m.get("format"),
            "width": _coerce_int(m.get("width")),
            "width_desc": m.get("width"),
        }
        for m in items
    ]


def _table_rows(items: list[dict]) -> list[dict]:
    return [
        {
            "headers": t.get("headers") or [],
            "rows": t.get("rows") or [],
            "caption": t.get("caption"),
        }
        for t in items
    ]


def _rich_link_rows(
    items: list[dict],
    contextual: list | None,
    query_provided: bool,
    score_links: bool = True,
) -> list[dict]:
    from crawl4ai_spark.extraction.scrape import link_total_score

    out = []
    for i, d in enumerate(items):
        ctx = contextual[i] if contextual is not None else None
        out.append(
            {
                "href": d["href"],
                "text": d["text"],
                "title": d["title"],
                "base_domain": d["base_domain"],
                # None when scoring is off (reference Link.intrinsic_score
                # stays unset unless config.score_links, models.py:373-383)
                "intrinsic_score": d["intrinsic_score"] if score_links else None,
                "contextual_score": ctx,
                "total_score": link_total_score(
                    d["intrinsic_score"], ctx,
                    score_links_enabled=score_links, query_provided=query_provided,
                ),
            }
        )
    return out


def make_scrape_udf(query: str | None = None, fit: bool = False, **scrape_options):
    """Build the scraping-stage UDF with a bound config (the per-crawl
    ``CrawlerRunConfig`` analog — options are closed over, broadcast with
    the serialized UDF). Produces the reference pipeline's default
    content flow: raw html → scrape → cleaned_html → markdown
    (content_source="cleaned_html").

    ``query``: when set, each link additionally gets a ``contextual_score``
    (Okapi BM25 of the query vs the link's anchor text + title across the
    page's link set, min-max normalized — the reference scores BM25 over
    fetched link-head text, link_preview.py:314-331 / async_url_seeder.py
    :1703-1748; anchor context is the in-UDF stand-in since "fetching" a
    link target is a table join here, see operators.link_preview for the
    faithful head-data variant) and ``total_score`` = the reference's
    0.7/0.3 blend (utils.py:3459-3504).

    ``fit``: when set, emit ``fit_markdown`` (PruningContentFilter over
    cleaned_html — the reference attaches it to every CrawlResult when a
    content filter is configured, async_webcrawler.py:871-877).
    """
    from crawl4ai_spark.extraction.scrape import bm25_contextual_scores, scrape_page

    # score_links is a legitimate scrape_page option the loop defaults on
    # (rich link structs need intrinsic scores); an explicit False disables
    # scoring and the per-link struct carries None scores + neutral total.
    score_links = bool(scrape_options.pop("score_links", True))

    if fit:
        from crawl4ai_spark.extraction.content_filter import fit_markdown as _fit

    @pandas_udf(SCRAPE_SCHEMA)
    def udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        out = []
        for h, u in zip(html, url):
            doc = _decode(h)
            u = u or ""
            scraped = scrape_page(doc, u, score_links=score_links, **scrape_options)
            meta = scraped["metadata"] or extract_head_meta(doc)
            internal = scraped["links"]["internal"]
            external = scraped["links"]["external"]
            ctx_i = ctx_e = None
            if query is not None and score_links:
                # one BM25 batch over the page's whole link set (the
                # reference normalizes across the scored batch too)
                all_ctx = bm25_contextual_scores(
                    query,
                    [f"{d['text']} {d['title']}".strip() for d in internal + external],
                )
                ctx_i, ctx_e = all_ctx[: len(internal)], all_ctx[len(internal):]
            out.append(
                {
                    "cleaned_html": scraped["cleaned_html"],
                    "media": {
                        "images": _media_rows(scraped["media"]["images"]),
                        "videos": _media_rows(scraped["media"]["videos"]),
                        "audios": _media_rows(scraped["media"]["audios"]),
                        "tables": _table_rows(scraped["media"].get("tables", [])),
                    },
                    "links": {
                        "internal": _rich_link_rows(internal, ctx_i, query is not None, score_links),
                        "external": _rich_link_rows(external, ctx_e, query is not None, score_links),
                    },
                    "markdown": generate_markdown_result(scraped["cleaned_html"], u),
                    "fit_markdown": _fit(scraped["cleaned_html"]) if fit else None,
                    "head": {
                        "title": meta.get("title"),
                        "description": meta.get("description"),
                        "keywords": meta.get("keywords"),
                        "author": meta.get("author"),
                        "lang": meta.get("lang"),
                    },
                    "success": scraped["success"],
                }
            )
        return pd.DataFrame(out)

    return udf


udf_scrape = make_scrape_udf()
