"""Regex-based structured extraction — native regexp_extract_all.

Semantic contract: ``crawl4ai/extraction_strategy.py:2558-2735``
RegexExtractionStrategy — the 21-pattern built-in catalog
(``DEFAULT_PATTERNS`` :2636-2664) applied IGNORECASE|MULTILINE, emitting
{url, label, value, span} matches; custom patterns override/extend.

Spark: one ``regexp_extract_all`` per selected pattern + posexplode — all
JVM-side. (Spark's regex functions don't expose match offsets, so the
``span`` column is produced only by the pandas-UDF parity path
``regex_extract_with_spans`` — documented trade-off; the (label, value)
multiset is the contract of the native path.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The reference's built-in catalog, verbatim labels and spellings
# (extraction_strategy.py:2636-2664); all are Java-regex compatible.
DEFAULT_PATTERNS: dict[str, str] = {
    # Communication
    "email": r"[\w.+-]+@[\w-]+\.[\w.-]+",
    "phone_intl": r"\+?\d[\d .()-]{7,}\d",
    "phone_us": r"\(?\d{3}\)?[ -. ]?\d{3}[ -. ]?\d{4}",
    # Web
    "url": r"https?://[^\s\"'<>]+",
    "ipv4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "ipv6": r"[A-F0-9]{1,4}(?::[A-F0-9]{1,4}){7}",
    # IDs
    "uuid": r"[0-9a-f]{8}-[0-9a-f]{4}-[1-5][0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
    # Money / numbers
    "currency": r"(?:USD|EUR|RM|\$|€|£)\s?\d+(?:[.,]\d{2})?",
    "percentage": r"\d+(?:\.\d+)?%",
    "number": r"\b\d{1,3}(?:[,.\s]\d{3})*(?:\.\d+)?\b",
    # Dates / Times
    "date_iso": r"\d{4}-\d{2}-\d{2}",
    "date_us": r"\d{1,2}/\d{1,2}/\d{2,4}",
    "time_24h": r"\b(?:[01]?\d|2[0-3]):[0-5]\d(?:[:.][0-5]\d)?\b",
    # Misc
    "postal_us": r"\b\d{5}(?:-\d{4})?\b",
    "postal_uk": r"\b[A-Z]{1,2}\d[A-Z\d]? ?\d[A-Z]{2}\b",
    "html_color_hex": r"#[0-9A-Fa-f]{6}\b",
    "twitter_handle": r"@[\w]{1,15}",
    "hashtag": r"#[\w-]+",
    "mac_addr": r"(?:[0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}",
    "iban": r"[A-Z]{2}\d{2}[A-Z0-9]{11,30}",
    "credit_card": r"\b(?:4\d{12}(?:\d{3})?|5[1-5]\d{14}|3[47]\d{13}|6(?:011|5\d{2})\d{12})\b",
}

def select_patterns(*labels: str, custom: dict[str, str] | None = None) -> dict[str, str]:
    """Subset of the built-in catalog by label, plus user overrides —
    mirrors the reference's IntFlag selection + ``custom`` merge."""
    unknown = set(labels) - set(DEFAULT_PATTERNS)
    if unknown:
        raise KeyError(f"unknown pattern labels: {sorted(unknown)}")
    merged = {k: DEFAULT_PATTERNS[k] for k in labels}
    if custom:
        merged.update(custom)
    return merged


def regex_extract_matches(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, label, value) rows for every match of every selected pattern —
    case-insensitive multiline, like the reference."""
    patterns = patterns or DEFAULT_PATTERNS
    per_label = [
        F.struct(
            F.lit(label).alias("label"),
            F.regexp_extract_all(F.col(text_col), F.lit(f"(?im)({regex})"), 1).alias("values"),
        )
        for label, regex in sorted(patterns.items())
    ]
    return (
        docs.select(F.col(id_col), F.explode(F.array(*per_label)).alias("m"))
        .select(F.col(id_col), F.col("m.label").alias("label"), F.explode("m.values").alias("value"))
    )


def regex_extract_with_spans(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-parity path incl. byte spans (reference ``extract``
    :2712-2728): a Series→Series pandas UDF running the same compiled
    Python regexes, one finditer pass per (pattern, row)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    patterns = patterns or DEFAULT_PATTERNS
    compiled = [
        (label, re.compile(rx, re.IGNORECASE | re.MULTILINE))
        for label, rx in sorted(patterns.items())
    ]

    @pandas_udf(
        "array<struct<label: string, value: string, span_start: int, span_end: int>>"
    )
    def udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            rows = []
            for label, cre in compiled:
                for m in cre.finditer(t or ""):
                    rows.append((label, m.group(0), m.start(), m.end()))
            out.append(rows)
        return pd.Series(out)

    return (
        docs.select(F.col(id_col), F.explode(udf(F.col(text_col))).alias("m"))
        .select(F.col(id_col), "m.label", "m.value", "m.span_start", "m.span_end")
    )


# Default PII battery for redact_pii — the catalog's personally-
# identifying subset (emails, phone numbers, network addresses, payment
# and bank identifiers).
PII_LABELS = (
    "email",
    "phone_intl",
    "phone_us",
    "ipv4",
    "ipv6",
    "mac_addr",
    "iban",
    "credit_card",
)


def redact_pii(
    docs: DataFrame,
    labels: tuple[str, ...] = PII_LABELS,
    id_col: str = "doc_id",
    text_col: str = "text",
    custom: dict[str, str] | None = None,
    token_fmt: str = "[{label}]",
) -> DataFrame:
    """Redact PII in-place: every catalog match is replaced by its label
    token (``john@x.com`` → ``[EMAIL]``), the standard scrubbing pass a
    training-data pipeline runs before publishing a corpus.

    Pure map-side column algebra — a chain of ``regexp_replace`` calls in
    one projection (one pass per pattern, zero shuffles, zero Python;
    whole-stage codegen keeps the chain in a single generated method).
    Patterns apply case-insensitively in deterministic label order, so
    overlaps resolve identically everywhere. Returns
    ``(doc_id, redacted_text, n_redactions)`` where ``n_redactions``
    counts ACTUAL replacements — each pattern's matches are counted on
    the text as it stands before that pattern's replacement (counting
    tokens in the final text would over-count on input that already
    contains bracketed label literals, e.g. re-scrubbing a redacted
    corpus)."""
    patterns = select_patterns(*labels, custom=custom)
    out = F.col(text_col)
    n = F.lit(0)
    for label, regex in sorted(patterns.items()):
        rx = f"(?im){regex}"
        n = n + F.regexp_count(out, F.lit(rx))
        out = F.regexp_replace(out, rx, token_fmt.format(label=label.upper()))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        out.alias("redacted_text"),
        n.alias("n_redactions"),
    )
