"""Robots.txt gating — each host's rules compiled once, every URL decided
in the JVM.

Behavioral contract: the reference parses cached rules with stdlib
``RobotFileParser`` and **allows on any error or absence** (fail-open,
``crawl4ai/utils.py:313-365``); denied URLs become 403-style results and
are not retried (``crawl4ai/async_webcrawler.py:384-397``). Rules are
cached per host with a 7-day TTL (``crawl4ai/utils.py:252-311``).

Spark design, two halves:

- ``compile_robots`` runs ``RobotFileParser`` once per host row (a pandas
  UDF over the O(hosts) robots table). For the crawl's user agent it picks
  the entry exactly as ``can_fetch`` does and emits that entry's rules as
  ``struct<deny_all, rules: array<struct<glob, path, regex, allow>>>`` —
  NULL when every URL is allowed. Rule paths are the parser's own
  (``quote``d) ``RuleLine.path`` values; a glob rule becomes the Java
  regex ``^\\Q…\\E.*\\Q…\\E``, the same match as ``_glob_applies_to``.
- ``robots_gate`` broadcast-joins the compiled struct onto a wave, applies
  the TTL from ``fetch_time``, and decides each URL in column algebra:
  ``can_fetch``'s path normalization
  (``quote(urlunparse(('', '', path, params, query, fragment)))`` of
  ``urlparse(unquote(url))``), then the first rule that matches. Where
  CPython would raise (an unbalanced or invalid bracketed host, a netloc
  whose NFKC form adds ``/?#@:``) the verdict is allow, as the reference's
  ``except`` makes it. No URL and no ``rules_text`` goes to Python.

The normalization is staged over several projections: one nested
expression outgrows the 64 KB generated-method limit and would fall back
to interpretation.
"""

from __future__ import annotations

import json
import re
from urllib.robotparser import RobotFileParser, RuleLine

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from crawl4ai_spark.functions.urlnorm import ascii_lower

ROBOTS_TTL_DAYS = 7

RULES_SCHEMA = (
    "deny_all boolean, "
    "rules array<struct<glob: boolean, path: string, regex: string, allow: boolean>>"
)

# Stock RuleLine percent-encodes "*", so a wildcard rule like
# "Disallow: /private/*" NEVER matches anything — the reference
# monkey-patches applies_to process-wide to treat "*" as a glob
# (utils.py:57-73). Same SEMANTICS here — including the reference's quirk
# that the trailing-"$" anchor branch is dead code (RuleLine quotes "$"
# to "%24" before the patch sees it, pinned by
# test_robots_wildcard_and_anchor_rules) — but applied per PARSER
# INSTANCE in _make_parser rather than mutating the stdlib class:
# unrelated urllib.robotparser users in the same process keep stock
# behavior.
_original_applies_to = RuleLine.applies_to


def _is_glob(path: str) -> bool:
    return "*" in path or "%2A" in path or path in ("*", "%2A")


def _glob_applies_to(self, filename):
    if _is_glob(self.path):
        pattern = self.path.replace("%2A", "*")
        pattern = re.escape(pattern).replace("\\*", ".*")
        pattern = "^" + pattern
        if pattern.endswith("\\$"):
            pattern = pattern[:-2] + "$"
        try:
            return bool(re.match(pattern, filename))
        except re.error:
            return _original_applies_to(self, filename)
    return _original_applies_to(self, filename)


def _bind_glob_rules(parser: RobotFileParser) -> None:
    """Rebind applies_to on this parser's RuleLine instances only."""
    from types import MethodType

    entries = list(parser.entries)
    if parser.default_entry is not None:
        entries.append(parser.default_entry)
    for entry in entries:
        for rl in entry.rulelines:
            rl.applies_to = MethodType(_glob_applies_to, rl)


def _make_parser(rules_text: str) -> RobotFileParser | None:
    try:
        parser = RobotFileParser()
        parser.parse(rules_text.splitlines())
        _bind_glob_rules(parser)
        return parser
    except Exception:
        return None


# ── compile: once per host ───────────────────────────────────────────────


def _compile_rules(rules_text: str | None, user_agent: str) -> dict | None:
    """The rules ``can_fetch(user_agent, ·)`` consults, as plain data;
    None when every URL is allowed (no, blank or unparseable rules, no
    entry for the agent, or no Disallow that can decide a URL)."""
    if rules_text is None or not rules_text.strip():
        return None
    parser = _make_parser(rules_text)
    if parser is None:
        return None
    entry = next(
        (e for e in parser.entries if e.applies_to(user_agent)), parser.default_entry
    )
    if entry is None:
        return None
    rules, deny_all = [], False
    for i, rl in enumerate(entry.rulelines):
        glob = _is_glob(rl.path)
        segments = rl.path.replace("%2A", "*").split("*")
        regex = "^" + ".*".join(f"\\Q{s}\\E" if s else "" for s in segments) if glob else None
        rules.append({"glob": glob, "path": rl.path, "regex": regex, "allow": rl.allowance})
        matches_every_path = not any(segments) if glob else rl.path == ""
        if matches_every_path:  # later rules are unreachable
            deny_all = i == 0 and not rl.allowance
            break
    while rules and rules[-1]["allow"]:
        rules.pop()  # a trailing Allow decides as "no rule matched" does
    return {"deny_all": deny_all, "rules": rules} if rules else None


def _compile_udf(user_agent: str):
    @pandas_udf("string")
    def compile_rules(rules_text: pd.Series) -> pd.Series:
        out = []
        for text in rules_text:
            compiled = _compile_rules(text, user_agent)
            out.append(None if compiled is None else json.dumps(compiled))
        return pd.Series(out, dtype=object)

    return compile_rules


def compile_robots(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """``robots(host, rules_text[, fetch_time])`` → ``(host[, fetch_time],
    robots)`` with ``robots`` the compiled rules struct (NULL = allow
    all). One Python call per host row; cache it for the crawl."""
    keep = ["host", *(["fetch_time"] if "fetch_time" in robots.columns else [])]
    return robots.select(
        *keep,
        F.from_json(_compile_udf(user_agent)(F.col("rules_text")), RULES_SCHEMA).alias("robots"),
    )


# ── evaluate: per URL, in the JVM ────────────────────────────────────────

# schemes whose path ``urlparse`` splits ";params" from
_USES_PARAMS = ["", "ftp", "hdl", "prospero", "http", "imap", "https", "shttp", "rtsp",
                "rtsps", "rtspu", "sip", "sips", "mms", "sftp", "tel"]

# characters whose NFKC form contains one of "/?#@:" — ``urlsplit`` raises
# on a netloc holding any of them (``urllib.parse._checknetloc``);
# tests/test_robots_gate.py re-derives the set from ``unicodedata``
NFKC_NETLOC_RAISERS = (
    "\u2047\u2048\u2049\u2100\u2101\u2105\u2106\u2a74\ufe13\ufe16"
    "\ufe55\ufe56\ufe5f\ufe6b\uff03\uff0f\uff1a\uff1f\uff20"
)


def _ipv6_regex() -> str:
    """``ipaddress.IPv6Address`` acceptance: eight 1-4 digit hextets, the
    last two optionally a dotted quad without leading zeros, at most one
    "::" standing for at least one hextet, then an optional non-empty
    "%scope" without "%"."""
    h = "[0-9A-Fa-f]{1,4}"
    octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9][0-9]|[0-9])"
    v4 = rf"{octet}(?:\.{octet}){{3}}"
    forms = [f"(?:{h}:){{7}}{h}", f"(?:{h}:){{6}}{v4}"]
    for left in range(8):  # hextets before "::"; at most 7 - left after it
        head = f"(?:{h}:){{{left - 1}}}{h}" if left else ""
        room = 7 - left
        tails = []
        if room >= 1:
            tails.append(f"(?:{h}:){{0,{room - 1}}}{h}")
        if room >= 2:
            tails.append(f"(?:{h}:){{0,{room - 2}}}{v4}")
        forms.append(f"{head}::" + (f"(?:{'|'.join(tails)})?" if tails else ""))
    return f"^(?:{'|'.join(forms)})(?:%[^%]+)?\\z"


_IPV6_RE = _ipv6_regex()
_SCHEME = r"[A-Za-z][A-Za-z0-9+.\-]*"


def _verdict_stages(url: Column) -> list[tuple[str, Column]]:
    """``robots_allowed`` for the compiled struct in column ``_rb``, as
    staged ``(name, expression)`` projections; each ``_rb_*`` stage is
    computed only where the host has rules (the path stages only where
    they can change the verdict)."""
    rb = F.col("_rb")
    has = rb.isNotNull()
    probe = has & ~rb["deny_all"]
    # unquote: Java's URLDecoder once "%" without two hex digits is made
    # literal and "+" is kept a plus; "%ED" before a surrogate-range byte
    # becomes "%FF" so the JVM decoder emits one U+FFFD per byte, as
    # Python's does
    escaped = F.regexp_replace(F.coalesce(url, F.lit("")), r"%(?![0-9A-Fa-f]{2})", "%25")
    escaped = F.regexp_replace(
        F.replace(escaped, F.lit("+"), F.lit("%2B")), r"(?i)%ED(?=%[AB][0-9A-F])", "%FF"
    )
    # urlsplit: strip leading C0/space, drop tab/CR/LF, then scheme, netloc
    stripped = F.regexp_replace(
        F.regexp_replace(F.col("_rb_u"), r"^[\x00-\x20]+", ""), r"[\t\r\n]", ""
    )
    after_scheme = F.col("_rb_r")
    netloc = F.when(
        after_scheme.startswith("//"), F.regexp_extract(after_scheme, r"^//([^/?#]*)", 1)
    ).otherwise(F.lit(""))
    # where urlsplit raises: unbalanced brackets, a bracketed host that is
    # neither IPv6 nor IPvFuture, a netloc with an NFKC raiser
    n = F.col("_rb_n")
    bracketed = F.regexp_extract(n, r"\[([^\]]*)", 1)
    raises = (
        (n.contains("[") != n.contains("]"))
        | (
            n.contains("[")
            & ~F.when(
                bracketed.startswith("v"),
                F.regexp_like(bracketed, F.lit(r"(?s)^v[a-fA-F0-9]+\..+\z")),
            ).otherwise(F.regexp_like(bracketed, F.lit(_IPV6_RE)))
        )
        | F.regexp_like(n, F.lit(f"[{NFKC_NETLOC_RAISERS}]"))
    )
    # urlunparse(('', '', path, params, query, fragment)): an empty
    # ";params" (http-like schemes), "?query" or "#fragment" loses its
    # delimiter
    rest = F.regexp_replace(after_scheme, r"^//[^/?#]*", "")
    rest = F.when(
        F.col("_rb_sch").isin(_USES_PARAMS),
        F.regexp_replace(rest, r"(?s)^((?:[^?#]*/)?[^/;?#]*);(?=[?#]|\z)", "$1"),
    ).otherwise(rest)
    rest = F.regexp_replace(rest, r"(?s)^([^?#]*)\?(?=#|\z)", "$1")
    rest = F.regexp_replace(rest, r"(?s)^([^#]*)#\z", "$1")
    # quote(safe="/"): URLEncoder, then its differences from Python undone
    quoted = F.url_encode(F.col("_rb_q"))
    for java, python in (("+", "%20"), ("*", "%2A"), ("%7E", "~"), ("%2F", "/")):
        quoted = F.replace(quoted, F.lit(java), F.lit(python))
    path = F.col("_rb_e")
    first = F.get(
        F.filter(
            rb["rules"],
            lambda r: F.when(r["glob"], F.regexp_like(path, r["regex"])).otherwise(
                F.startswith(path, r["path"])
            ),
        ),
        0,
    )
    return [
        ("_rb_u", F.when(has, F.url_decode(escaped))),
        ("_rb_s", F.when(has, stripped)),
        ("_rb_sch", F.when(has, ascii_lower(F.regexp_extract("_rb_s", f"^({_SCHEME}):", 1)))),
        ("_rb_r", F.when(has, F.regexp_replace("_rb_s", f"^{_SCHEME}:", ""))),
        ("_rb_n", F.when(has, netloc)),
        ("_rb_x", F.when(has, raises)),
        ("_rb_q", F.when(probe, rest)),
        ("_rb_e", F.when(probe, F.when(quoted == "", F.lit("/")).otherwise(quoted))),
        ("_rb_a", F.when(probe, F.coalesce(first["allow"], F.lit(True)))),
        ("robots_allowed", ~has | F.col("_rb_x") | (~rb["deny_all"] & F.col("_rb_a"))),
    ]


def robots_gate(
    wave: DataFrame,
    compiled: DataFrame | None,
    now: Column | None = None,
    apply_ttl: bool = True,
) -> DataFrame:
    """Add ``robots_allowed`` to a wave (host and url columns required)
    from ``compile_robots`` output. Stale rules (older than the 7-day TTL)
    are treated as absent → fail-open allow (the reference re-fetches on
    staleness and allows on any fetch failure; with no live network,
    stale ≡ absent)."""
    if compiled is None:
        return wave.withColumn("robots_allowed", F.lit(True))
    rules = F.col("robots")
    if apply_ttl and "fetch_time" in compiled.columns:
        now = now if now is not None else F.current_timestamp()
        fresh = F.col("fetch_time") >= now - F.expr(f"INTERVAL {ROBOTS_TTL_DAYS} DAYS")
        rules = F.when(fresh, rules)
    df = wave.join(F.broadcast(compiled.select("host", rules.alias("_rb"))), "host", "left")
    stages = _verdict_stages(F.col("url"))
    for name, col in stages:
        df = df.withColumn(name, col)
    return df.drop("_rb", *(name for name, _ in stages[:-1]))


def attach_robots_verdict(
    wave: DataFrame,
    robots: DataFrame | None,
    user_agent: str = "*",
    now: Column | None = None,
    apply_ttl: bool = True,
) -> DataFrame:
    """Add a ``robots_allowed`` column to a wave DataFrame (host column
    required), compiling ``robots(host, rules_text[, fetch_time])`` inline
    (a crawl compiles once and calls ``robots_gate``). Stale rules (older
    than the 7-day TTL) are treated as absent → fail-open allow.

    The TTL check runs by default against ``current_timestamp()``; pass a
    ``now`` column to pin evaluation time, or ``apply_ttl=False`` to
    enforce rules regardless of age (explicit opt-out)."""
    compiled = compile_robots(robots, user_agent) if robots is not None else None
    return robots_gate(wave, compiled, now, apply_ttl)
