"""Extraction library unit tests: links, markdown, meta, and the
byte-exact round-trip invariant over the synthetic corpus."""

from crawl4ai_spark.extraction.links import extract_links
from crawl4ai_spark.extraction.markdown import convert_links_to_citations, html_to_markdown
from crawl4ai_spark.extraction.meta import extract_head_meta, extract_lang
from crawl4ai_spark.synth.pages import generate_site

PAGE = """<html lang="en"><head><title>T</title></head><body>
<h1>Title</h1>
<p>hello <a href="a.html">first</a> and <a href="b.html?utm_source=x">second</a></p>
<p><a href="a.html">dup</a> <a href="#frag">frag</a> <a href="mailto:x@y.z">mail</a></p>
<p><a href="http://other.org/">ext</a></p>
</body></html>"""


def test_extract_links_dedup_and_split():
    links = extract_links(PAGE, "http://site0.com/dir/")
    internal = [d["href"] for d in links["internal"]]
    external = [d["href"] for d in links["external"]]
    assert internal == [
        "http://site0.com/dir/a.html",
        "http://site0.com/dir/b.html",
    ]
    assert external == ["http://other.org/"]
    assert links["internal"][0]["text"] == "first"


def test_extract_links_base_href():
    page = (
        '<html><head><base href="/deep/"></head>'
        '<body><a href="x.html">x</a></body></html>'
    )
    links = extract_links(page, "http://site0.com/top/")
    assert links["internal"][0]["href"] == "http://site0.com/deep/x.html"


def test_markdown_basics():
    md = html_to_markdown(
        "<h1>A</h1><p>one <strong>two</strong> <em>three</em> <code>four</code></p>"
        "<ul><li>x</li><li>y</li></ul>"
    )
    assert md == "# A\none **two** _three_ `four`\n  * x\n  * y\n\n\n"


def test_markdown_code_fence_preserves_bytes():
    md = html_to_markdown('<pre data-language="python">a = 1 &lt; 2\nb = &amp;x</pre>')
    assert md == "\n```python\na = 1 < 2\nb = &x\n```\n\n"


def test_markdown_table():
    md = html_to_markdown(
        "<table><thead><tr><th>a</th><th>b</th></tr></thead>"
        "<tbody><tr><td>1</td><td>2</td></tr></tbody></table>"
    )
    assert md == "| a | b |  \n| --- | --- |  \n| 1 | 2 |\n"


def test_markdown_ordered_and_nested_lists():
    md = html_to_markdown("<ol><li>a<ul><li>b</li></ul></li><li>c</li></ol>")
    assert md == "  1. a\n     * b\n  2. c\n\n\n"


def test_markdown_blockquote_and_hr():
    md = html_to_markdown("<blockquote><p>q1</p><p>q2</p></blockquote><hr>")
    assert md == "> q1\n> q2\n* * *\n"


def test_scripts_and_head_dropped():
    md = html_to_markdown(
        "<head><title>skip</title></head><body><script>var x;</script><p>keep</p></body>"
    )
    assert md == "keep\n"


def test_citations():
    cited, refs = convert_links_to_citations("see [a](http://x.com/) and [b](http://y.com/) and [a2](http://x.com/)\n")
    assert cited == "see a⟨1⟩ and b⟨2⟩ and a2⟨1⟩\n"
    # reference semantics: header always present, desc = ": text"
    assert refs == "\n\n## References\n\n⟨1⟩ http://x.com/: a\n⟨2⟩ http://y.com/: b\n"


def test_citations_images_numbered_in_brackets():
    # reference: images become ![alt⟨n⟩] (src dropped) and ARE referenced
    cited, refs = convert_links_to_citations("![alt](http://x.com/i.png) and [a](http://y.com/)")
    assert cited == "![alt⟨1⟩] and a⟨2⟩"
    assert "⟨1⟩ http://x.com/i.png: alt\n" in refs
    assert "⟨2⟩ http://y.com/: a\n" in refs


def test_meta_extraction():
    meta = extract_head_meta(PAGE)
    assert meta["title"] == "T"
    assert meta["lang"] == "en"
    assert extract_lang(PAGE) == "en"


def test_roundtrip_invariant_whole_corpus():
    """Every generated page's HTML must convert back to its golden text
    byte-for-byte — the engine's extraction invariant."""
    site = generate_site(n_hosts=3, cats=3, subs=2, prods=5)
    assert len(site["pages"]) == 3 * (1 + 3 * (1 + 2 * (1 + 5)))
    for page in site["pages"]:
        got = html_to_markdown(page["html"].decode("utf-8"), page["url"])
        assert got == page["text"], f"round-trip mismatch for {page['url']}"


def test_corpus_link_graph_depths():
    site = generate_site(n_hosts=2, cats=2, subs=2, prods=2)
    depths = {r["url"]: r["depth"] for r in site["link_graph"]}
    assert depths["http://site0.com/"] == 0
    assert depths["http://site0.com/cat0/"] == 1
    assert depths["http://site0.com/cat0/sub1/"] == 2
    assert depths["http://site0.com/cat0/sub1/prod1.html"] == 3
    # every generated page is reachable
    assert set(depths) == {p["url"] for p in site["pages"]}


def test_table_extraction_scoring_and_data():
    from crawl4ai_spark.extraction.tables import extract_tables

    html = """
    <table><caption>prices</caption>
      <thead><tr><th>sku</th><th>price</th></tr></thead>
      <tbody><tr><td>a</td><td>1</td></tr><tr><td>b</td><td>2</td></tr></tbody>
    </table>
    <table role="presentation"><tr><td><table><tr><td>nav</td></tr></table></td></tr></table>
    """
    tables = extract_tables(html)
    data = [t for t in tables if t["is_data_table"]]
    assert len(data) == 1
    assert data[0]["headers"] == ["sku", "price"]
    assert data[0]["rows"] == [["a", "1"], ["b", "2"]]
    assert data[0]["caption"] == "prices"
    layout = [t for t in tables if not t["is_data_table"]]
    assert len(layout) >= 1  # presentation + nested tables score low


def test_table_colspan_expansion_and_padding():
    from crawl4ai_spark.extraction.tables import extract_tables

    html = (
        "<table><thead><tr><th>a</th><th>b</th><th>c</th></tr></thead>"
        '<tbody><tr><td colspan="2">x</td><td>y</td></tr><tr><td>solo</td></tr></tbody></table>'
    )
    t = extract_tables(html)[0]
    assert t["rows"] == [["x", "x", "y"], ["solo", "", ""]]


def test_table_default_headers():
    from crawl4ai_spark.extraction.tables import extract_tables

    t = extract_tables("<table><tr><td>1</td><td>2</td></tr></table>")[0]
    assert t["headers"] == ["Column 1", "Column 2"]
