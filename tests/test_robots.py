"""robots.txt parsing and RFC 9309 evaluation.

Three layers of evidence:

1. Differential vs ``urllib.robotparser`` over a corpus restricted to
   bodies where stdlib first-match-in-file-order semantics and RFC 9309
   longest-match semantics coincide (Allow lines precede any overlapping
   shorter Disallow; no wildcards — robotparser treats them literally).
2. Pinned RFC 9309 §2.2.2-style cases covering exactly the divergences:
   longest-match independence from line order, Allow-wins-ties, ``*``
   and ``$`` wildcards, and empty-Disallow handling.
3. The DataFrame rules builder + the engine's link gate end to end, in
   both ordering modes, against the oracle crawler's dict gate.
"""

from __future__ import annotations

import urllib.robotparser

import pytest

from spacetime_crawler4py_spark.functions.robots import (
    build_robots_rules,
    parse_robots_txt,
    robots_allows,
    rule_pattern_regex,
)

# bodies where robotparser (first-match, file order) and RFC 9309
# (longest-match) agree on every probe below: overlapping rules are
# ordered most-specific-first and wildcards are absent
ROBOTS_BODIES = [
    # plain single group
    "User-agent: *\nDisallow: /wp-admin\nDisallow: /search\n",
    # agent-specific group + fallback
    (
        "User-agent: googlebot\nDisallow: /google-only\n\n"
        "User-agent: spacetime\nDisallow: /private\nDisallow: /tmp/\n\n"
        "User-agent: *\nDisallow: /everything\n"
    ),
    # stacked agents sharing one group
    "User-agent: a\nUser-agent: spacetime\nDisallow: /shared\n",
    # comments, blank disallow alone (allow-all), mixed case keys
    "# banner comment\nUser-Agent: *   # trailing\nDisallow:\n",
    # percent-encoded path
    "User-agent: *\nDisallow: /a%20b/\n",
    # disallow everything
    "User-agent: *\nDisallow: /\n",
    # Allow override listed before the broader Disallow (the common
    # wp-admin idiom) — both engines allow the carve-out
    (
        "User-agent: *\nAllow: /wp-admin/admin-ajax.php\n"
        "Disallow: /wp-admin/\n"
    ),
    # Allow-first full-site lockout with a public carve-out
    "User-agent: *\nAllow: /public/\nDisallow: /\n",
    # no matching group for us
    "User-agent: otherbot\nDisallow: /other\n",
    # empty file
    "",
]

PROBE_PATHS = [
    "/", "/index.html", "/wp-admin", "/wp-admin/x", "/search?q=1",
    "/google-only/x", "/private", "/private/x", "/privateer", "/tmp/",
    "/tmp/x", "/tmpfile", "/shared/doc", "/a b/c", "/a%20b/c",
    "/everything/z", "/other/page", "/public/", "/public/page",
    "/wp-admin/admin-ajax.php", "/wp-admin/options.php",
]


@pytest.mark.parametrize("body", ROBOTS_BODIES)
@pytest.mark.parametrize("agent", ["spacetime", "SomeOther/1.0"])
def test_parse_matches_robotparser(body, agent):
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(body.splitlines())
    rules = parse_robots_txt(body, agent=agent)
    gate = {"example.org": rules} if rules else None
    for path in PROBE_PATHS:
        url = f"https://example.org{path}"
        got = robots_allows(gate, url)
        want = rp.can_fetch(agent, url)
        assert got == want, (body, agent, path, got, want)


# ---------------------------------------------------------------------------
# RFC 9309 semantics the stdlib does NOT implement — pinned expectations.
# ---------------------------------------------------------------------------

def _gate(body: str, agent: str = "spacetime"):
    rules = parse_robots_txt(body, agent=agent)
    return {"example.org": rules}


def _allowed(body: str, path: str) -> bool:
    return robots_allows(_gate(body), f"https://example.org{path}")


def test_longest_match_beats_file_order():
    """RFC 9309 §2.2.2: precedence comes from rule specificity, not line
    order — robotparser would block /public/x here (Disallow listed
    first matches first)."""
    body = "User-agent: *\nDisallow: /\nAllow: /public/\n"
    assert _allowed(body, "/public/x") is True
    assert _allowed(body, "/private") is False
    # the reverse order gives the same verdicts
    body_rev = "User-agent: *\nAllow: /public/\nDisallow: /\n"
    assert _allowed(body_rev, "/public/x") is True
    assert _allowed(body_rev, "/private") is False


def test_allow_wins_length_ties():
    body = "User-agent: *\nDisallow: /page\nAllow: /page\n"
    assert _allowed(body, "/page") is True
    assert _allowed(body, "/pages/2") is True


def test_more_specific_disallow_beats_shorter_allow():
    body = "User-agent: *\nAllow: /folder\nDisallow: /folder/secret\n"
    assert _allowed(body, "/folder/open") is True
    assert _allowed(body, "/folder/secret") is False
    assert _allowed(body, "/folder/secrets") is False


def test_star_wildcard_matches_any_sequence():
    body = "User-agent: *\nDisallow: /*.php\n"
    assert _allowed(body, "/index.php") is False
    assert _allowed(body, "/folder/any.php?q=1") is False
    assert _allowed(body, "/index.html") is True


def test_dollar_anchors_at_end():
    body = "User-agent: *\nDisallow: /*.php$\n"
    assert _allowed(body, "/index.php") is False
    assert _allowed(body, "/index.php?x=1") is True  # query breaks the anchor
    assert _allowed(body, "/index.phpx") is True


def test_wildcard_allow_override():
    body = (
        "User-agent: *\nDisallow: /media/\n"
        "Allow: /media/*/thumb.jpg$\n"
    )
    assert _allowed(body, "/media/a/b/thumb.jpg") is True
    assert _allowed(body, "/media/a/b/full.jpg") is False


def test_empty_disallow_then_disallow_is_rfc_not_robotparser():
    """'Disallow:' (empty) is allow-all per RFC — it contributes no rule,
    so a later Disallow still applies. robotparser diverges here (its
    empty-disallow rule matches everything first), which is why this body
    is pinned instead of differential."""
    body = "User-agent: *\nDisallow:\nDisallow: /cgi-bin/\n"
    assert _allowed(body, "/cgi-bin/run") is False
    assert _allowed(body, "/index.html") is True


def test_repeated_groups_merge_per_rfc():
    """RFC 9309 §2.2.1: groups naming the same agent merge (robotparser
    keeps only the first '*' group — documented divergence)."""
    body = (
        "User-agent: *\nDisallow: /a\n\n"
        "User-agent: *\nDisallow: /b\n"
    )
    assert _allowed(body, "/a/x") is False
    assert _allowed(body, "/b/x") is False
    assert _allowed(body, "/c") is True


def test_agent_product_token_split():
    """The agent is matched on its product name (before '/'), per
    robotparser's applies_to."""
    body = "User-agent: spacetime\nDisallow: /x\n"
    assert robots_allows(
        {"example.org": parse_robots_txt(body, agent="spacetime/2.1")},
        "https://example.org/x/y",
    ) is False


def test_rule_pattern_regex_portable():
    """The shared pattern compiler emits what all three engines read the
    same way."""
    assert rule_pattern_regex("/plain") == "^/plain"
    assert rule_pattern_regex("/*.pdf$") == "^/.*\\.pdf$"
    assert rule_pattern_regex("/a*b*c") == "^/a.*b.*c"


def test_legacy_bare_prefix_rules_still_gate():
    """Round-2 rule dicts were bare Disallow prefixes; the evaluator
    keeps accepting them."""
    rules = {"example.org": ["/private"]}
    assert robots_allows(rules, "https://example.org/private/x") is False
    assert robots_allows(rules, "https://example.org/pub") is True


# ---------------------------------------------------------------------------
# DataFrame builder + engine e2e
# ---------------------------------------------------------------------------

WEB_DDL = (
    "url string, status int, final_url string, content_type string, "
    "payload binary, domain string"
)
SUB_PAGE = b"<html><body>about page " + b"filler " * 25 + b"</body></html>"


def _site(host: str, robots_txt: bytes, hrefs: list[str]):
    """A one-host web: a root page linking ``hrefs`` (each served, under
    its canonical URL, as a plain page) and the host's robots.txt."""
    from spacetime_crawler4py_spark.functions import urlkit
    from spacetime_crawler4py_spark.sources.webgen import PageSpec, SyntheticWeb

    root = f"https://{host}"  # engine-normalized form: no trailing slash
    body = (
        b"<html><body>"
        + b" ".join(f'<a href="{h}">x</a>'.encode() for h in hrefs)
        + b" twenty words of body text follow: " + b"word " * 20
        + b"</body></html>"
    )
    pages = {
        root: PageSpec(url=root, payload=body),
        f"{root}/robots.txt": PageSpec(
            url=f"{root}/robots.txt", content_type="text/plain",
            payload=robots_txt,
        ),
    }
    for h in hrefs:
        url = urlkit.normalize(root + h)
        pages[url] = PageSpec(url=url, payload=SUB_PAGE)
    return SyntheticWeb(pages, seeds=[root])


def _web_frames(spark, web):
    """(fetch-oracle table, its /robots.txt rows as (host, payload))."""
    from pyspark.sql import functions as F

    web_df = spark.createDataFrame(web.to_rows(), WEB_DDL)
    robots_pages = web_df.where(F.col("url").endswith("/robots.txt")).select(
        F.col("domain").alias("host"), "payload"
    )
    return web_df, robots_pages


def _gated_crawls(spark, tmp_path, web) -> dict[str, set[str]]:
    """Fetched-URL sets of the oracle (rules dict) and of the engine in
    both ordering modes (rules DataFrame), all gated by the robots.txt
    pages the web serves."""
    from spacetime_crawler4py_spark.functions.robots import (
        build_robots_rules_df,
    )
    from spacetime_crawler4py_spark.oracle.pycrawler import OracleCrawler
    from spacetime_crawler4py_spark.sources.store import SnapshotStore
    from spacetime_crawler4py_spark.streaming.epochs import (
        CrawlEngine, EngineConfig,
    )

    web_df, robots_pages = _web_frames(spark, web)
    oracle = OracleCrawler(web, robots=build_robots_rules(robots_pages))
    fetched = {"oracle": {url for *_, url in oracle.run().crawl_order}}
    for ordering in ("exact", "relaxed"):
        store = SnapshotStore(spark, str(tmp_path / ordering))
        eng = CrawlEngine(
            spark, store, web_df,
            EngineConfig(ordering=ordering, neardup="off"),
            robots_df=build_robots_rules_df(robots_pages),
        )
        eng.seed(web.seeds)
        eng.run()
        fetched[ordering] = {r.url for r in store.read("fetch_log").collect()}
    return fetched


def test_engine_gates_links_with_fetched_robots(spark, tmp_path):
    """Full flow: /robots.txt payloads come out of the fetch oracle, the
    DataFrame builder parses them into the rules dim, and the crawl's
    link gate keeps disallowed paths out of the frontier/seen set while
    honoring the more specific Allow carve-out."""
    from spacetime_crawler4py_spark.functions.robots import (
        build_robots_rules_df,
    )
    from spacetime_crawler4py_spark.sources.store import SnapshotStore
    from spacetime_crawler4py_spark.streaming.epochs import CrawlEngine, EngineConfig

    host = "www.ics.uci.edu"
    web = _site(
        host, b"User-agent: *\nDisallow: /private\nAllow: /private/pub/\n",
        ["/about/team", "/private/secrets", "/private/pub/ok"],
    )
    web_df, robots_pages = _web_frames(spark, web)
    rules = build_robots_rules(robots_pages)
    assert rules == {host: ["-/private", "+/private/pub/"]}

    store = SnapshotStore(spark, str(tmp_path / "robots-crawl"))
    eng = CrawlEngine(
        spark, store, web_df,
        EngineConfig(ordering="relaxed", neardup="off"),
        robots_df=build_robots_rules_df(robots_pages),
    )
    eng.seed(web.seeds)
    eng.run()
    seen_urls = {r.url for r in store.read("frontier").collect()}
    assert f"https://{host}/about/team" in seen_urls
    assert f"https://{host}/private/pub/ok" in seen_urls
    assert f"https://{host}/private/secrets" not in seen_urls


def test_build_rules_from_dataframe(spark):
    rows = [
        ("a.example.org", b"User-agent: *\nDisallow: /blog\n"),
        ("b.example.org", b"User-agent: *\nDisallow:\n"),  # allow-all
        ("c.example.org", None),  # fetch failed
        ("d.example.org", b"User-agent: x\nDisallow: /only-x\n"),
        ("e.example.org",
         b"User-agent: *\nDisallow: /\nAllow: /pub*\nDisallow: /*.zip$\n"),
    ]
    df = spark.createDataFrame(rows, "host string, payload binary")
    rules = build_robots_rules(df, agent="spacetime")
    assert rules == {
        "a.example.org": ["-/blog"],
        "e.example.org": ["-/", "+/pub*", "-/*.zip$"],
    }
    assert robots_allows(rules, "https://a.example.org/blog/post") is False
    assert robots_allows(rules, "https://a.example.org/about") is True
    assert robots_allows(rules, "https://b.example.org/anything") is True
    assert robots_allows(rules, "https://e.example.org/pub/x") is True
    assert robots_allows(rules, "https://e.example.org/other") is False
    assert robots_allows(rules, "https://e.example.org/pub/a.zip") is False


def test_join_gate_matches_dict_gate_crawl(spark, tmp_path):
    """The engine's robots_df join gate, in both ordering modes, must
    produce the identical crawl to the oracle's rules-dict gate on the
    same web + rules."""
    host = "gatejoin.ics.uci.edu"
    web = _site(
        host, b"User-agent: *\nDisallow: /private\nAllow: /private/pub/\n",
        ["/about/team", "/private/secrets", "/private/pub/ok"],
    )
    fetched = _gated_crawls(spark, tmp_path, web)
    assert fetched["exact"] == fetched["oracle"]
    assert fetched["relaxed"] == fetched["oracle"]
    assert f"https://{host}/private/pub/ok" in fetched["oracle"]
    assert f"https://{host}/private/secrets" not in fetched["oracle"]


def test_robots_gate_judges_the_canonical_url(spark, tmp_path):
    """``Disallow: /private/`` against a page linking ``/private/`` and
    ``/about/``: the crawl requests the canonical ``https://host/private``
    (no trailing slash), and RFC 9309 §2.2.2 matches rules against the
    requested path, which ``/private/`` does not prefix. The oracle, the
    exact-mode crawl and the relaxed-mode crawl must all judge that
    canonical URL and fetch the same URL set."""
    host = "www.ics.uci.edu"
    web = _site(host, b"User-agent: *\nDisallow: /private/\n",
                ["/private/", "/about/"])
    fetched = _gated_crawls(spark, tmp_path, web)
    want = {f"https://{host}", f"https://{host}/private",
            f"https://{host}/about"}
    assert fetched == {"oracle": want, "exact": want, "relaxed": want}


def test_join_gate_100k_hosts_without_driver_dict(spark):
    """The host-scale contract: 10^5 hosts' rules parsed and applied as a
    distributed join — the driver never materializes the rules dim."""
    from pyspark.sql import functions as F

    from spacetime_crawler4py_spark.functions.robots import (
        build_robots_rules_df, robots_gate_join,
    )

    n = 100_000
    payload = b"User-agent: *\nDisallow: /private\n"
    pages = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias("host"),
        # even hosts publish a Disallow; odd hosts publish nothing usable
        F.when(F.col("id") % 2 == 0, F.lit(payload)).alias("payload"),
    )
    rules_df = build_robots_rules_df(pages)
    links = spark.range(n).select(
        F.explode(
            F.array(
                F.concat(F.lit("https://h"), F.col("id"),
                         F.lit(".example.org/private/x")),
                F.concat(F.lit("https://h"), F.col("id"),
                         F.lit(".example.org/pub/y")),
            )
        ).alias("url")
    )
    kept = robots_gate_join(links, rules_df, url_col="url")
    # even hosts lose /private (n/2 rows); everything else passes
    assert kept.count() == 2 * n - n // 2
    assert kept.where(F.col("url").contains("/private/")).count() == n // 2


CRAWL_DELAY_BODIES = [
    "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n",
    "User-agent: googlebot\nCrawl-delay: 1\n\nUser-agent: *\nCrawl-delay: 9\n",
    "User-agent: *\nCrawl-delay: -3\n",           # negative -> ignored
    "User-agent: *\nCrawl-delay: soon\n",         # non-numeric -> ignored
    "User-agent: *\nDisallow: /x\n",              # no delay at all
    "User-agent: *\nCrawl-delay: 1\nCrawl-delay: 4\n",  # last wins
    "User-agent: a\nUser-agent: b\nCrawl-delay: 7\n",   # shared group
]


@pytest.mark.parametrize("body", CRAWL_DELAY_BODIES)
@pytest.mark.parametrize("agent", ["*", "googlebot", "b"])
def test_crawl_delay_matches_robotparser(body, agent):
    from spacetime_crawler4py_spark.functions.robots import parse_crawl_delay

    rp = urllib.robotparser.RobotFileParser()
    rp.parse(body.splitlines())
    expected = rp.crawl_delay(agent)
    if expected is not None:
        expected = float(expected)
    assert parse_crawl_delay(body, agent) == expected


def test_ruleless_group_delay_is_rfc_not_robotparser():
    """A group consisting solely of a Crawl-delay line: robotparser never
    materializes entries without rulelines, silently dropping the delay
    (same parser quirk as its empty-Disallow handling); RFC 9309 group
    semantics say the user-agent line opened a group, so the polite
    reading keeps the declared delay."""
    from spacetime_crawler4py_spark.functions.robots import parse_crawl_delay

    body = "User-agent: *\nCrawl-delay: 2.5\n"
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(body.splitlines())
    assert rp.crawl_delay("*") is None          # robotparser drops it
    assert parse_crawl_delay(body, "*") == 2.5  # we honor it


def test_build_crawl_delays_from_dataframe(spark):
    from spacetime_crawler4py_spark.functions.robots import (
        build_crawl_delays_df,
    )

    pages = spark.createDataFrame(
        [
            ("a.uci.edu", b"User-agent: *\nCrawl-delay: 3\n"),
            ("b.uci.edu", b"User-agent: *\nDisallow: /x\n"),
            ("c.uci.edu", None),
        ],
        "host string, payload binary",
    )
    dim = build_crawl_delays_df(pages).collect()
    assert {r.domain: r.crawl_delay for r in dim} == {"a.uci.edu": 3.0}


def test_crawl_delay_dim_100k_hosts_without_driver_dict(spark):
    """Host-scale Crawl-delay contract (mirror of the rules-join test):
    10^5 hosts' delays parsed into a (domain, crawl_delay) dim that never
    lands on the driver, ready to join onto the domain-partitioned fetch
    batch (CrawlEngine's crawl_delays_df)."""
    from pyspark.sql import functions as F

    from spacetime_crawler4py_spark.functions.robots import (
        build_crawl_delays_df,
    )

    n = 100_000
    declared = b"User-agent: *\nCrawl-delay: 3\nDisallow: /x\n"
    silent = b"User-agent: *\nDisallow: /x\n"
    pages = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias("host"),
        # every third host declares a delay; the rest stay silent
        F.when(F.col("id") % 3 == 0, F.lit(declared))
        .otherwise(F.lit(silent))
        .alias("payload"),
    )
    dim = build_crawl_delays_df(pages)
    assert dim.columns == ["domain", "crawl_delay"]
    # only declaring hosts emit rows; nothing was collected to build this
    expected = (n + 2) // 3
    assert dim.count() == expected
    agg = dim.agg(
        F.min("crawl_delay").alias("lo"), F.max("crawl_delay").alias("hi")
    ).collect()[0]
    assert (agg["lo"], agg["hi"]) == (3.0, 3.0)
    # and it joins onto a fetch batch as a plain column
    batch = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias(
            "domain"
        )
    )
    joined = batch.join(dim, "domain", "left")
    assert joined.where(F.col("crawl_delay").isNotNull()).count() == expected
