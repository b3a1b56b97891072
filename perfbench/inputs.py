"""Seeded synthetic web for the crawl benchmark (pure Python, no Spark).

Every host is flat: a home page (depth 0), which links an about page and
every leaf page (depth 1). Leaves sit in section directories
``/s<j>/p<k>.html``; the section index ``/s<j>/`` itself does not exist.
The seed picks the link graph, not only the words:

- the hot host, whose section count is multiplied by ``hot_factor``;
- the host-name offset, which reorders hosts in url order;
- the partner offset of each home page's cross-host link;
- each leaf's "related" cross-link target;
- the robots rules: ``robots_hosts`` non-hot hosts each disallow one
  seed-chosen section, plus one host whose rules allow everything.

The attempted-URL count of a crawl does not depend on the seed (every
non-hot host has the same size and loses one section to robots), so
runs with different seeds do the same amount of work.

Pages carry punctuated prose, repeated navigation and footer
boilerplate, and planted defects so that each curation stage rejects a
share of the fetched documents:

- ``stub`` leaves hold placeholder lorem-ipsum text, which C4 rejects;
- ``echo`` leaves repeat one sentence, which Gopher's repetition
  signals reject while C4 still passes them;
- ``mirror`` leaves copy a sibling leaf byte for byte, so their
  markdown is identical and exact dedup keeps only one.

Leaves link their missing section index (``missing`` status, depth 2),
a seed list also holds one missing page per host, and home pages carry
tracking-param, fragment and mailto anchors that URL canonicalisation
must fold or skip.
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
import os
import random
from dataclasses import dataclass

_WORDS = (
    "the crawler reads each page and follows links to new hosts while the "
    "frontier keeps a queue of pages that have been seen but not fetched "
    "with a budget for every host so that no site is hit too often and "
    "robots rules decide which paths may be fetched at all before the "
    "extractor turns markup into clean text for the corpus"
).split()

_NAV = [("Home", "/"), ("About", "/about.html")]


@dataclass(frozen=True)
class Shape:
    n_hosts: int
    sections: int
    leaves: int
    hot_factor: int = 1
    robots_hosts: int = 2
    # seed list: every page of the site plus one missing page per host;
    # else the home pages
    seed_every_page: bool = False


def _sentence(rng: random.Random, n: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n)]
    return " ".join(words).capitalize() + rng.choice(".....!?")


def paragraph(rng: random.Random, sentences: int) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 14)) for _ in range(sentences))


def _anchor(text: str, href: str) -> str:
    return f'<a href="{html_mod.escape(href, quote=True)}">{html_mod.escape(text)}</a>'


def _page(host: str, title: str, body: list[str]) -> bytes:
    nav = " | ".join(_anchor(t, h) for t, h in _NAV)
    footer = (
        f"<footer><p>Copyright {html_mod.escape(host)}. All rights reserved. "
        "Contact the editors for corrections.</p></footer>"
    )
    doc = (
        '<html lang="en"><head><meta charset="utf-8">'
        f"<title>{html_mod.escape(title)}</title>"
        f'<meta name="description" content="{html_mod.escape(title, quote=True)}">'
        f"</head><body><nav>{nav}</nav><h1>{html_mod.escape(title)}</h1>"
        + "".join(body)
        + footer
        + "</body></html>"
    )
    return doc.encode("utf-8")


def make_site(seed: int, shape: Shape) -> dict:
    """Pages, seeds, robots rules and hosts of one seeded web.

    Returns ``{"pages": {url: html_bytes}, "seeds": [url], "robots":
    {host: rules_text}, "hosts": [host]}``."""
    rng = random.Random(seed)
    n = shape.n_hosts
    offset = rng.randrange(1000)
    hosts = [f"site{offset + h}.test" for h in range(n)]
    hot = rng.randrange(n)
    partner = rng.randrange(1, n) if n > 1 else 0
    pages: dict[str, bytes] = {}

    for h, host in enumerate(hosts):
        origin = f"http://{host}"
        n_sec = shape.sections * (shape.hot_factor if h == hot else 1)
        home_links = [
            _anchor(f"article {j}.{k}", f"/s{j}/p{k}.html")
            for j in range(n_sec)
            for k in range(shape.leaves)
        ]
        home_links += [
            _anchor("tracked", "/s0/?utm_source=feed&utm_medium=web"),
            _anchor("top", "/#top"),
            _anchor("mail", "mailto:editors@example.org"),
            _anchor("partner", f"http://{hosts[(h + partner) % n]}/"),
        ]
        pages[f"{origin}/"] = _page(
            host,
            f"{host} home",
            [f"<p>{paragraph(rng, 3)}</p>", "<ul><li>" + "</li><li>".join(home_links) + "</li></ul>"],
        )
        pages[f"{origin}/about.html"] = _page(
            host, f"About {host}", [f"<p>{paragraph(rng, 2)}</p>"]
        )
        for j in range(n_sec):
            for k in range(shape.leaves):
                url = f"{origin}/s{j}/p{k}.html"
                kind = rng.random()
                if kind < 0.12 and k > 0:
                    # mirror: a sibling's bytes; its relative links resolve alike
                    pages[url] = pages[f"{origin}/s{j}/p{k - 1}.html"]
                    continue
                if kind < 0.24:
                    body = ["<p>Lorem ipsum dolor sit amet, placeholder text.</p>"]  # stub
                elif kind < 0.36:
                    line = _sentence(rng, 10)
                    body = [f"<p>{line}</p>" for _ in range(12)]  # echo
                else:
                    body = [f"<p>{paragraph(rng, rng.randint(4, 7))}</p>" for _ in range(2)]
                related = f"/s{(j + 1) % n_sec}/p{rng.randrange(shape.leaves)}.html"
                crumbs = "<p>" + _anchor("section", f"/s{j}/") + " " + _anchor("related", related) + "</p>"
                pages[url] = _page(host, f"{host} section {j} article", body + [crumbs])

    robots = {hosts[(hot + 1) % n]: "User-agent: *\nAllow: /\n"} if n > 1 else {}
    others = [h for h in range(n) if h != hot and hosts[h] not in robots]
    for h in rng.sample(others, min(shape.robots_hosts, len(others))):
        robots[hosts[h]] = f"User-agent: *\nDisallow: /s{rng.randrange(shape.sections)}/\n"
    return {
        "pages": pages,
        "seeds": (
            list(pages) + [f"http://{host}/gone.html" for host in hosts]  # missing pages
            if shape.seed_every_page
            else [f"http://{host}/" for host in hosts]
        ),
        "robots": robots,
        "hosts": hosts,
    }


def write_site(site: dict, out_dir: str) -> dict[str, str]:
    """Write pages, seeds and robots as parquet (pyarrow, no Spark);
    returns the path of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    now = dt.datetime.now(dt.timezone.utc)  # fresh rules: the crawl applies a 7-day TTL
    tables = {
        "pages": pa.table(
            {
                "url": pa.array(list(site["pages"]), pa.string()),
                "html": pa.array(list(site["pages"].values()), pa.binary()),
            }
        ),
        "seeds": pa.table({"url": pa.array(site["seeds"], pa.string())}),
        "robots": pa.table(
            {
                "host": pa.array(list(site["robots"]), pa.string()),
                "rules_text": pa.array(list(site["robots"].values()), pa.string()),
                "fetch_time": pa.array([now] * len(site["robots"]), pa.timestamp("us", tz="UTC")),
            }
        ),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
