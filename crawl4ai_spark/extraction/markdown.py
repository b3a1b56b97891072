"""HTML parse tree + markdown stage — the engine's text-extraction invariant.

This module hosts (a) the shared stdlib ``html.parser`` tree builder used
by table/schema extraction and the content filters, (b) a tree→HTML
serializer feeding ``cleaned_html``/``fit_markdown``, and (c) the markdown
stage: conversion (delegated to ``extraction.h2t``, the byte-parity
reimplementation of the reference's vendored html2text under the
``DefaultMarkdownGenerator`` option set —
``crawl4ai/markdown_generation_strategy.py:181-190``) plus the citations
rewrite (``markdown_generation_strategy.py:83-146`` semantics).

Byte parity with the reference converter is enforced by
``tests/test_markdown_parity.py`` (reference loaded as a test-time
oracle); the per-page ``text`` column of the synthetic corpus is produced
by this same converter, so ``raw_markdown == text`` holds end-to-end.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from urllib.parse import urljoin

VOID_TAGS = frozenset(
    {"br", "img", "hr", "meta", "link", "input", "base", "source", "col", "wbr", "area", "embed"}
)
DROP_TAGS = frozenset({"script", "style", "noscript", "head", "template", "svg", "iframe"})


class Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict | None = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []  # str | Node

    def clone(self) -> "Node":
        dup = Node(self.tag, dict(self.attrs))
        dup.children = [c.clone() if isinstance(c, Node) else c for c in self.children]
        return dup


class _TreeBuilder(HTMLParser):
    def __init__(self, drop_tags: frozenset = DROP_TAGS) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self._stack = [self.root]
        self._drop_depth = 0
        self._drop_tags = drop_tags

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if self._drop_depth:
            if tag in self._drop_tags or tag not in VOID_TAGS:
                self._drop_depth += 1 if tag in self._drop_tags else 0
            return
        if tag in self._drop_tags:
            self._drop_depth = 1
            return
        node = Node(tag, dict(attrs))
        self._stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        if self._drop_depth:
            return
        if tag in self._drop_tags:
            return
        self._stack[-1].children.append(Node(tag, dict(attrs)))

    def handle_endtag(self, tag: str) -> None:
        if self._drop_depth:
            if tag in self._drop_tags:
                self._drop_depth -= 1
            return
        if tag in VOID_TAGS:
            return
        # close the nearest matching open tag (tolerate misnesting)
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._stack[-1].children.append(data)


def parse_html(html: str, drop_tags: frozenset = DROP_TAGS) -> Node:
    """Parse HTML into a Node tree; ``drop_tags`` subtrees are elided at
    parse time (pass ``frozenset()`` to keep everything, e.g. for the
    scraping stage which handles head/script/style itself)."""
    builder = _TreeBuilder(drop_tags)
    builder.feed(html)
    builder.close()
    return builder.root


# ──────────────────────────────────────────────────────────────────────────
# Serialization (pruned trees → HTML, feeds cleaned_html / fit_markdown)
# ──────────────────────────────────────────────────────────────────────────

from html import escape as _html_escape  # noqa: E402

from crawl4ai_spark.extraction.h2t import convert_to_markdown  # noqa: E402


def node_to_html(node: Node) -> str:
    """Serialize a (possibly pruned) parse tree back to HTML."""
    parts: list[str] = []

    def walk(n) -> None:
        if isinstance(n, str):
            parts.append(_html_escape(n, quote=False))
            return
        if n.tag != "#root":
            attrs = "".join(
                ' {}="{}"'.format(k, _html_escape("" if v is None else str(v), quote=True))
                for k, v in n.attrs.items()
            )
            parts.append(f"<{n.tag}{attrs}>")
        for child in n.children:
            walk(child)
        if n.tag != "#root" and n.tag not in VOID_TAGS:
            parts.append(f"</{n.tag}>")

    walk(node)
    return "".join(parts)


# ──────────────────────────────────────────────────────────────────────────
# Conversion + citations (reference-parity dialect)
# ──────────────────────────────────────────────────────────────────────────


def html_to_markdown(html: str, base_url: str = "") -> str:
    """Reference-dialect HTML → markdown (see ``extraction.h2t``)."""
    return convert_to_markdown(html, base_url)


# Markdown links/images, incl. one nesting level of brackets in the text
# and one level of parens in the URL, plus an optional "title"
# (reference LINK_PATTERN, markdown_generation_strategy.py:11).
_LINK_OR_IMG_RE = re.compile(
    r'!?\[((?:[^\[\]]|\[(?:[^\[\]]|\[[^\]]*\])*\])*)\]'
    r'\(((?:[^()\s]|\([^()]*\))*)(?:\s+"([^"]*)")?\)'
)


def _fast_urljoin(base: str, url: str) -> str:
    if url.startswith(("http://", "https://", "mailto:", "//")):
        return url
    if url.startswith("/"):
        return (base[:-1] if base.endswith("/") else base) + url
    return urljoin(base, url)


def convert_links_to_citations(markdown: str, base_url: str = "") -> tuple[str, str]:
    """Rewrite ``[text](url)`` → ``text⟨n⟩`` (``![..]`` images keep the
    bang and brackets) and build the "## References" block, numbering
    each distinct absolute URL at first occurrence with an optional
    ``: title - text`` description (reference convert_links_to_citations
    semantics, markdown_generation_strategy.py:83-146)."""
    numbered: dict[str, tuple[int, str]] = {}
    join_memo: dict[str, str] = {}

    def absolute(url: str) -> str:
        if not base_url or url.startswith(("http://", "https://", "mailto:")):
            return url
        if url not in join_memo:
            join_memo[url] = _fast_urljoin(base_url, url)
        return join_memo[url]

    def replace(m: re.Match) -> str:
        text, title = m.group(1), m.group(3)
        url = absolute(m.group(2))
        entry = numbered.get(url)
        if entry is None:
            label_bits = [b for b in (title, text if text != title else None) if b]
            entry = (
                len(numbered) + 1,
                ": " + " - ".join(label_bits) if label_bits else "",
            )
            numbered[url] = entry
        n = entry[0]
        return f"![{text}⟨{n}⟩]" if m.group(0).startswith("!") else f"{text}⟨{n}⟩"

    cited = _LINK_OR_IMG_RE.sub(replace, markdown)
    refs = "\n\n## References\n\n" + "".join(
        f"⟨{n}⟩ {url}{desc}\n"
        for url, (n, desc) in sorted(numbered.items(), key=lambda kv: kv[1][0])
    )
    return cited, refs


def generate_markdown_result(html: str, base_url: str = "") -> dict:
    """Full markdown stage output (struct mirrored in the Spark schema)."""
    raw = html_to_markdown(html, base_url)
    cited, refs = convert_links_to_citations(raw, base_url)
    return {
        "raw_markdown": raw,
        "markdown_with_citations": cited,
        "references_markdown": refs,
    }
