"""robots.txt parsing + rule evaluation for the crawl gate.

The reference crawler delegates robots handling to its course cache server
and ships no parser (SURVEY §2; the north_star adds the gate). Here:

* ``parse_robots_txt``   — one robots.txt body -> the ordered Allow /
  Disallow rule list for a given agent (RFC 9309 group selection).
* ``robots_allows``      — evaluate a ``{host: [rule, ...]}`` dict for a
  URL with RFC 9309 §2.2.2 precedence: the MOST SPECIFIC matching rule
  (longest pattern in octets) wins; on a tie the least restrictive
  (Allow) wins; no match -> allowed. ``*`` matches any character
  sequence and a trailing ``$`` anchors the pattern at the path end.
* ``build_robots_rules_df`` — DataFrame of fetched ``/robots.txt``
  payloads -> the ``(host, rules)`` dim the engine joins onto candidate
  links (``robots_gate_join``); ``build_robots_rules`` collects it to the
  ``{host: [rule, ...]}`` dict the oracle crawler and ``robots_allows``
  take.

Rule encoding: each rule is a string whose first character tags it —
``"+<pattern>"`` = Allow, ``"-<pattern>"`` = Disallow. A bare pattern
(no tag) is accepted as a Disallow prefix for back-compat with the
round-2 prefix-only rule dicts.

Semantics contract (documented divergences from ``urllib.robotparser``,
the differential oracle in tests/test_robots.py): this module implements
RFC 9309 — (a) rule precedence is longest-match, not file-order
first-match, so ``Disallow: /`` + ``Allow: /public/`` allows
``/public/x`` regardless of line order; (b) repeated groups naming the
same user-agent are MERGED (RFC 9309 §2.2.1), while robotparser keeps
only the first; (c) ``*``/``$`` wildcards are honored, which robotparser
treats as literal characters. Group selection matches robotparser where
they agree: the agent product token (the part before ``/``) is matched
case-insensitively by substring, the longest matching token wins, and
``*`` is the fallback. The differential test runs robotparser over the
corpus subset where both semantics coincide and pins the RFC examples
explicitly where they do not.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import quote, unquote, urlparse

from pyspark.sql import DataFrame

__all__ = [
    "parse_robots_txt",
    "parse_sitemap_directives",
    "sitemap_urls_from_robots",
    "build_robots_rules",
    "build_robots_rules_df",
    "parse_crawl_delay",
    "build_crawl_delays_df",
    "robots_gate_join",
    "robots_allows",
    "rule_pattern_regex",
]


def _norm_pattern(pattern: str) -> str:
    """robotparser's normalization (unquote then re-quote) with the
    wildcard metacharacters kept intact."""
    return quote(unquote(pattern), safe="/*$")


def _probe_path(url: str) -> str:
    """The normalized probe robotparser's can_fetch builds: path+query of
    the unquoted URL, re-quoted; '/' when empty."""
    p = urlparse(unquote(url))
    probe = p.path
    if p.query:
        probe += "?" + p.query
    return quote(probe) or "/"


def rule_pattern_regex(pattern: str) -> str:
    """Translate a robots path pattern into an anchored regex string that
    means the same thing in Python ``re``, Java regex (Spark RLIKE), and
    RE2 (DuckDB): ``*`` -> ``.*``, trailing ``$`` -> end anchor, every
    other character literal. Used by both the Python gate and the
    DataFrame robots_gate contract query, so the three engines share one
    compilation rule."""
    body = pattern
    anchored = body.endswith("$")
    if anchored:
        body = body[:-1]
    parts = [re.escape(seg) for seg in body.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


@lru_cache(maxsize=4096)
def _compiled(pattern: str):
    return re.compile(rule_pattern_regex(pattern))


def _rule_matches(pattern: str, path: str) -> bool:
    if "*" not in pattern and not pattern.endswith("$"):
        return path.startswith(pattern)  # plain prefix: no regex needed
    return _compiled(pattern).match(path) is not None


def _split_rule(rule: str) -> tuple[bool, str]:
    """-> (allow, pattern). Untagged legacy rules are Disallow prefixes."""
    if rule.startswith("+"):
        return True, rule[1:]
    if rule.startswith("-"):
        return False, rule[1:]
    return False, rule


def _eval_rules(rules, path: str) -> bool:
    """RFC 9309 §2.2.2 core: longest matching pattern wins; Allow wins
    ties; no match -> allowed."""
    best_len = -1
    best_allow = True
    for rule in rules:
        allow, pattern = _split_rule(rule)
        if not pattern or not _rule_matches(pattern, path):
            continue
        plen = len(pattern)
        if plen > best_len or (plen == best_len and allow and not best_allow):
            best_len = plen
            best_allow = allow
    return best_allow if best_len >= 0 else True


def robots_allows(robots: dict[str, list[str]] | None, url: str) -> bool:
    """RFC 9309 §2.2.2 evaluation of the host's rule list for ``url``.

    Longest matching pattern wins; Allow wins ties; no match -> allowed.
    A missing host or empty rules dict -> allowed (the reference fetches
    everything its cache server hands back; the gate is additive)."""
    if not robots:
        return True
    rules = robots.get(urlparse(url).netloc)
    if not rules:
        return True
    return _eval_rules(rules, _probe_path(url))


def _scan_groups(
    content: str,
) -> tuple[dict[str, list[str]], dict[str, float]]:
    """One pass over a robots.txt: per-token ordered Allow/Disallow rule
    lists AND per-token Crawl-delay values (last occurrence in a group
    wins, robotparser-style). Shared by parse_robots_txt and
    parse_crawl_delay so group semantics can never drift."""
    groups: dict[str, list[str]] = {}
    delays: dict[str, float] = {}
    current_agents: list[str] = []
    last_was_agent = False
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            token = val.lower()
            if not last_was_agent:
                current_agents = []
            current_agents.append(token)
            groups.setdefault(token, [])
            last_was_agent = True
        elif key in ("disallow", "allow"):
            last_was_agent = False
            if not current_agents or not val:
                continue
            tag = "+" if key == "allow" else "-"
            rule = tag + _norm_pattern(val)
            for tok in current_agents:
                groups.setdefault(tok, []).append(rule)
        elif key == "crawl-delay":
            last_was_agent = False
            if not current_agents or not val:
                continue
            try:
                d = float(val)
            except ValueError:
                continue
            if d >= 0:
                for tok in current_agents:
                    delays[tok] = d
        else:
            last_was_agent = False
    return groups, delays


def _best_group(groups: dict, agent: str) -> str | None:
    """Group precedence per RFC 9309: the longest token contained in the
    agent's product name (part before '/', lowercased) wins; '*' is the
    fallback."""
    agent_name = agent.split("/")[0].lower()
    best = None
    for tok in groups:
        if tok != "*" and tok in agent_name:
            if best is None or len(tok) > len(best):
                best = tok
    if best is None and "*" in groups:
        best = "*"
    return best


def parse_robots_txt(content: str, agent: str = "*") -> list[str]:
    """Ordered Allow/Disallow rules applying to ``agent`` ("+"/"-" tags).

    Group selection per RFC 9309: every user-agent line (product token,
    case-insensitive) opens/extends a group; groups naming the same token
    are merged; the group whose token is the longest one contained in the
    agent's product name (the part before '/', lowercased — robotparser's
    applies_to rule) wins, with ``*`` as the fallback. Empty rule values
    contribute nothing (an empty Disallow is allow-all per RFC)."""
    groups, _ = _scan_groups(content)
    if not groups:
        return []
    best = _best_group(groups, agent)
    return list(groups.get(best, []))


def parse_crawl_delay(content: str, agent: str = "*") -> float | None:
    """The ``Crawl-delay:`` value (seconds) applying to ``agent``, or
    None when the matched group declares none. Not part of RFC 9309 but
    honored by most large crawlers (and by urllib.robotparser's
    ``crawl_delay()``, the differential oracle); the reference crawler
    ignores it entirely and paces every domain at its fixed config
    delay. Group selection is the same longest-token precedence the rule
    lists use — a group consisting solely of a Crawl-delay line still
    counts as a group. Non-numeric or negative values are ignored per
    robotparser behavior."""
    groups, delays = _scan_groups(content)
    if not groups:
        return None
    best = _best_group(groups, agent)
    return delays.get(best)


def build_crawl_delays_df(
    robots_pages,
    host_col: str = "host",
    payload_col: str = "payload",
    agent: str = "*",
):
    """Fetched robots.txt payloads -> the per-domain ``Crawl-delay`` dim
    as a DATAFRAME ``(domain string, crawl_delay double)``: parsing runs
    as an Arrow stage on the executors and the dim NEVER lands on the
    driver. The engine joins it onto the dequeued batch by domain
    (CrawlEngine's ``crawl_delays_df``), so at 10^7 hosts the delays ride
    the domain-partitioned fetch stage as a column. Hosts whose
    robots.txt declares no delay emit no row (the pacer falls back to
    the config default for them)."""
    import pandas as pd

    def stage(batches):
        for pdf in batches:
            hosts, ds = [], []
            for row in pdf.itertuples(index=False):
                payload = getattr(row, payload_col)
                if payload is None:
                    continue
                if isinstance(payload, (bytes, bytearray)):
                    text = bytes(payload).decode("utf-8", errors="replace")
                else:
                    text = str(payload)
                d = parse_crawl_delay(text, agent=agent)
                if d is not None:
                    hosts.append(getattr(row, host_col))
                    ds.append(d)
            yield pd.DataFrame(
                {"domain": pd.Series(hosts, dtype=object),
                 "crawl_delay": pd.Series(ds, dtype="float64")}
            )

    return robots_pages.select(host_col, payload_col).mapInPandas(
        stage, schema="domain string, crawl_delay double"
    )


def build_robots_rules_df(
    robots_pages: DataFrame,
    host_col: str = "host",
    payload_col: str = "payload",
    agent: str = "*",
) -> DataFrame:
    """Fetched ``/robots.txt`` payloads -> the parsed ``(host, rules)``
    dim, kept a DataFrame so O(hosts) rules never reach the driver.
    Parsing runs as an Arrow stage on the executors; hosts without rules
    emit no row. Feed the result to :func:`robots_gate_join`."""
    import pandas as pd

    def stage(batches):
        for pdf in batches:
            hosts, rules_out = [], []
            for row in pdf.itertuples(index=False):
                payload = getattr(row, payload_col)
                if payload is None:
                    continue
                if isinstance(payload, (bytes, bytearray)):
                    text = bytes(payload).decode("utf-8", errors="replace")
                else:
                    text = str(payload)
                rules = parse_robots_txt(text, agent=agent)
                if rules:
                    hosts.append(getattr(row, host_col))
                    rules_out.append(rules)
            yield pd.DataFrame(
                {
                    # object dtype keeps empty batches Arrow-convertible to
                    # list<string> (a bare empty list infers float64)
                    "host": pd.Series(hosts, dtype=object),
                    "rules": pd.Series(rules_out, dtype=object),
                }
            )

    return robots_pages.select(host_col, payload_col).mapInPandas(
        stage, schema="host string, rules array<string>"
    )


def build_robots_rules(
    robots_pages: DataFrame,
    host_col: str = "host",
    payload_col: str = "payload",
    agent: str = "*",
) -> dict[str, list[str]]:
    """:func:`build_robots_rules_df` collected to the ``{host: [rule,
    ...]}`` dict :func:`robots_allows` and the oracle crawler take —
    O(hosts) on the driver, so small crawls and tests only."""
    return {
        r.host: list(r.rules)
        for r in build_robots_rules_df(
            robots_pages, host_col, payload_col, agent
        ).collect()
    }


# netloc per urllib.parse: everything between '://' and the first
# /?# — including userinfo and port, matching robots_allows' probe key
_NETLOC_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"


def robots_gate_join(
    links: DataFrame, rules_df: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Distributed robots gate: filter ``links`` to the RFC-9309-allowed
    rows by JOINING the ``(host, rules)`` dim from
    :func:`build_robots_rules_df` — O(hosts) never touches the driver.
    Per row it decides exactly what :func:`robots_allows` decides for the
    same URL against the collected rules dict.

    Plan shape: netloc extraction is a scan-level regex; the join keys
    both sides on host (AQE picks broadcast while the dim is small and
    falls back to a shuffle join at 10^7+ hosts, with skew-join splitting
    absorbing a hot host); rule evaluation runs Arrow-batched on the
    joined rows only — links whose host published no rules skip Python
    entirely via the rules-NULL fast path. The gate is additive: no
    rules row -> allowed, exactly like the dict path."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def allowed(rules, urls):
        out = []
        for r, u in zip(rules, urls):
            if r is None or len(r) == 0:
                out.append(True)
                continue
            out.append(_eval_rules(list(r), _probe_path(u)))
        return pd.Series(out)

    joined = links.withColumn(
        "_host", F.regexp_extract(F.col(url_col), _NETLOC_RE, 1)
    ).join(
        rules_df.select(F.col("host").alias("_host"), F.col("rules").alias("_rules")),
        "_host",
        "left",
    )
    return (
        joined.where(
            F.col("_rules").isNull() | allowed("_rules", F.col(url_col))
        )
        .drop("_host", "_rules")
    )


def parse_sitemap_directives(content: str) -> list[str]:
    """``Sitemap:`` lines from a robots.txt payload — per RFC 9309 §2.3
    (and the sitemaps.org extension that defined them) these are
    group-independent: they apply regardless of user-agent and may appear
    anywhere in the file. Absolute URLs, file order preserved, duplicates
    dropped. This is the discovery hook feeding sources/sitemaps.py:
    robots fetch → sitemap URLs → urlset/index ingestion → frontier
    candidates."""
    out: list[str] = []
    seen: set[str] = set()
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        if key.strip().lower() != "sitemap":
            continue
        val = val.strip()
        if val and val not in seen:
            seen.add(val)
            out.append(val)
    return out


# JVM twin of parse_sitemap_directives: one multiline regex pass, no
# Python workers ('(?im)' = case-insensitive + per-line anchors; value =
# everything up to a comment or line end, trailing whitespace trimmed —
# the same "keep internal spaces" rule as the python parser)
_SITEMAP_LINE_RE = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^#\r\n]*[^#\s])"


def sitemap_urls_from_robots(
    robots_pages: DataFrame, host_col: str = "host", content_col: str = "content"
) -> DataFrame:
    """(host, sitemap_url) rows from fetched robots.txt payloads —
    scan-level regexp extraction, deduped per host."""
    from pyspark.sql import functions as F

    return robots_pages.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(
                    F.col(content_col), F.lit(_SITEMAP_LINE_RE), F.lit(1)
                )
            )
        ).alias("sitemap_url"),
    )
