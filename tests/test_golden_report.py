"""Golden end-to-end parity: reproduce the reference's PUBLISHED crawl
report (crawl_out/report.json — built by its bs4+lxml analyzer over the
8,521 actually-crawled pages) from the raw manifest + saved HTML via the
Spark analytics sources + analyzer extractor.

Status of parity (also reproducible via scripts/golden_report_check.py):
* unique_pages (8521), all 92 subdomain counts, the longest page
  (https://cml.ics.uci.edu/category/aiml @ 24,057 words), and ALL 50
  top-word counts match EXACTLY.
Two parser edge cases decided the last tokens, both found by ctypes
differential probes against system libxml2 (a tree diff, then a SAX-event
diff, over every saved page; the probes are retired, their findings are
these two):
* round 2: HTML5's comment-end-bang ("--!>" closes a comment;
  html.parser requires "-->") — one faculty page, 518 swallowed tokens,
  now normalized in the extractor.
* round 3: HTML5 treats <noframes> as RAWTEXT. The one frameset page in
  the corpus (~raccoon) counts 19 tokens with noframes parsed as
  elements (skipped by the analyzer's >=20-token gate) but 21 as
  rawtext (included), contributing exactly the 'data'/'project' +-1
  residue of round 2. The analyzer parser now rawtexts noframes.

Set SPARK_GRAFT_GOLDEN=0 to skip (the full corpus is 426 MB of HTML;
~2-8 min depending on cores).
"""

from __future__ import annotations

import json
import os

import pytest

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_GOLDEN", "1") == "0"
    or not os.path.exists(f"{REF}/crawl_out/report.json"),
    reason="golden corpus disabled or absent",
)


@pytest.fixture(scope="module")
def report(spark):
    from spacetime_crawler4py_spark.operators.analyze import (
        analyze_pages, golden_report,
    )
    from spacetime_crawler4py_spark.sources.analytics import (
        load_html_pages, read_manifest,
    )

    pairs = read_manifest(spark, f"{REF}/crawl_out/manifest.tsv")
    pages = load_html_pages(spark, pairs, REF)
    analyzed = analyze_pages(pages).persist()
    got = golden_report(pairs, analyzed)
    analyzed.unpersist()
    return got


@pytest.fixture(scope="module")
def want():
    with open(f"{REF}/crawl_out/report.json", encoding="utf-8") as f:
        return json.load(f)


def test_unique_pages_exact(report, want):
    assert report["unique_pages"] == want["unique_pages"] == 8521


def test_subdomains_exact(report, want):
    assert dict(map(tuple, report["subdomains"])) == dict(
        map(tuple, want["subdomains"])
    )
    assert len(report["subdomains"]) == 92


def test_longest_page_exact(report, want):
    assert report["longest_page"] == want["longest_page"]
    assert report["longest_page"]["word_count"] == 24057


def test_top_words_within_tolerance(report, want):
    got = dict(map(tuple, report["top_words"]))
    ref = dict(map(tuple, want["top_words"]))
    assert got == ref, {
        w: (got.get(w), ref.get(w))
        for w in set(got) | set(ref)
        if got.get(w) != ref.get(w)
    }


def test_pages_dir_scan_recovers_all_urls(spark):
    """The pages-dir source (URL-header recovery) finds every page the
    manifest lists — the reference's alternative input shape."""
    from pyspark.sql import functions as F

    from spacetime_crawler4py_spark.sources.analytics import (
        read_manifest, scan_pages_dir,
    )

    manifest = read_manifest(spark, f"{REF}/crawl_out/manifest.tsv")
    scanned = scan_pages_dir(spark, f"{REF}/crawl_out/pages")
    m = {r.url for r in manifest.select("url").collect()}
    s = {r.url for r in scanned.select("url").collect()}
    assert s == m
    assert scanned.where(F.col("path").startswith("/")).count() == len(s)
