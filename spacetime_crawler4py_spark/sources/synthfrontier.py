"""Column-native synthetic frontier + web for throughput benchmarking.

Generates, entirely with JVM expressions (no Python in the data path,
so generation cost doesn't pollute the measured crawl throughput):

* a pending frontier of ``n_urls`` across ``n_domains`` hosts with a hot
  domain holding ~25% of URLs (mirroring www.ics.uci.edu skew,
  crawl_out/report.json), and
* a fetchable web serving every URL: small HTML pages whose token stream
  is id-derived (so near-dup sketches don't collide) with ``out_degree``
  absolute links to other synthetic URLs (driving real discovery/merge
  load through the engine).

The benchmark measures the north_rule metric — frontier dequeue + fetch +
parse + merge throughput (URLs/s) — schema-true to the 10^10 design
(url_hash identity, salted domains, rk ordering), scaled down in row count
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.urlkit import udf_url_hash
from ..plans.dequeue import salt_col

__all__ = ["synthetic_crawl_inputs", "make_synthetic_fetcher"]

_KNUTH = 2654435761  # multiplicative hash constant — reproducible in SQL and Python


def _dom_of(i: int, n_domains: int, hot_pct: int) -> int:
    if i % 100 < hot_pct:
        return 0
    return (i * _KNUTH) % (n_domains - 1) + 1


def _words_of(i: int, n_words: int = 120) -> str:
    return " ".join(f"tok{j}x{(i * (2 * j + 3)) % 99991}" for j in range(n_words))


def _links_of(i: int, n_urls: int, n_domains: int, hot_pct: int, out_degree: int):
    out = []
    for k in range(out_degree):
        t = (i * (7 + 6 * k) + (k + 1) * 13) % n_urls
        out.append((t, _dom_of(t, n_domains, hot_pct)))
    return out


def _render_page(
    i: int, n_urls: int, n_domains: int, hot_pct: int, out_degree: int,
    n_words: int = 120,
) -> bytes:
    anchors = "".join(
        f'<a href="https://d{d}.ics.uci.edu/p/{t}">link {k}</a>'
        for k, (t, d) in enumerate(
            _links_of(i, n_urls, n_domains, hot_pct, out_degree)
        )
    )
    return (
        "<html><head><title>Synthetic</title></head><body><p>"
        + _words_of(i, n_words)
        + "</p>"
        + anchors
        + "</body></html>"
    ).encode("utf-8")


def make_synthetic_fetcher(
    n_urls: int, n_domains: int = 1000, hot_fraction: float = 0.25,
    out_degree: int = 8, n_words: int = 120,
):
    """In-stage fetcher for benchmarking: renders the same page the
    synthetic web table serves, directly inside the fused fetch+parse
    mapInPandas stage (the shape real HTTP fetching takes — no fetch-oracle
    join, no payload shuffle). url format: https://d{dom}.ics.uci.edu/p/{id}."""
    hot_pct = int(hot_fraction * 100)

    def fetch(url: str) -> tuple[int, str, bytes, str]:
        i = int(url.rsplit("/", 1)[1])
        return (
            200,
            "text/html; charset=utf-8",
            _render_page(i, n_urls, n_domains, hot_pct, out_degree, n_words),
            url,
        )

    return fetch


def synthetic_crawl_inputs(
    spark: SparkSession,
    n_urls: int,
    n_domains: int = 1000,
    hot_fraction: float = 0.25,
    out_degree: int = 8,
    n_words: int = 120,
    seed_fraction: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Returns (frontier_df with the columns of the engine's
    ``ARROW_SCHEMAS["frontier"]``, web_df).

    ``seed_fraction`` < 1 pre-seeds only that share of URLs (by id stride);
    crawling then *discovers* the rest through outlinks, exercising the
    first-occurrence dedup + anti-join + merge path with real volume."""
    hot_pct = int(hot_fraction * 100)
    base = spark.range(n_urls).withColumn(
        "dom_id",
        F.when(F.pmod("id", F.lit(100)) < hot_pct, F.lit(0)).otherwise(
            F.pmod(F.col("id") * F.lit(_KNUTH), F.lit(n_domains - 1)) + 1
        ).cast("int"),
    )
    domain = F.concat(F.lit("d"), F.col("dom_id"), F.lit(".ics.uci.edu"))
    url = F.concat(F.lit("https://"), domain, F.lit("/p/"), F.col("id"))

    with_url = base.select("id", "dom_id", domain.alias("domain"), url.alias("url"))

    seed_base = with_url
    if seed_fraction < 1.0:
        stride = max(2, int(round(1 / seed_fraction)))
        seed_base = with_url.where(F.pmod("id", F.lit(stride)) == 0)
    # seq: the permanent per-domain FIFO position (see the engine's
    # ARROW_SCHEMAS["frontier"]); a one-time generation cost, not part of
    # the measured crawl
    w_seq = Window.partitionBy("domain").orderBy("id")
    frontier = seed_base.withColumn("url_hash", udf_url_hash("url")).select(
        "url_hash",
        "url",
        "domain",
        salt_col(F.col("url_hash")).alias("salt"),
        F.lit(None).cast("string").alias("parent"),
        F.lit(-1).cast("bigint").alias("rk_round"),
        F.lit("").alias("rk_pop"),
        F.col("id").cast("int").alias("rk_pos"),
        F.lit(-1).cast("bigint").alias("epoch_added"),
        F.row_number().over(w_seq).cast("bigint").alias("seq"),
    )

    # id-derived token stream: every word embeds the id so shingle sets are
    # disjoint across pages (keeps LSH bucket sizes ~1 if near-dup is on)
    words = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"tok{j}x"), F.pmod(F.col("id") * (2 * j + 3), F.lit(99991)))
            for j in range(n_words)
        ],
    )
    link_targets = [
        F.pmod(F.col("id") * (7 + 6 * k) + (k + 1) * 13, F.lit(n_urls))
        for k in range(out_degree)
    ]
    link_dom = [
        F.when(F.pmod(t, F.lit(100)) < hot_pct, F.lit(0)).otherwise(
            F.pmod(t * F.lit(_KNUTH), F.lit(n_domains - 1)) + 1
        ).cast("int")
        for t in link_targets
    ]
    anchors = [
        F.concat(
            F.lit('<a href="https://d'), d, F.lit(".ics.uci.edu/p/"), t,
            F.lit(f'">link {k}</a>'),
        )
        for k, (t, d) in enumerate(zip(link_targets, link_dom))
    ]
    payload = F.encode(
        F.concat(
            F.lit("<html><head><title>Synthetic</title></head><body><p>"),
            words,
            F.lit("</p>"),
            *anchors,
            F.lit("</body></html>"),
        ),
        "utf-8",
    )
    web = with_url.select(
        "url",
        F.lit(200).alias("status"),
        F.col("url").alias("final_url"),
        F.lit("text/html; charset=utf-8").alias("content_type"),
        payload.alias("payload"),
        "domain",
    )
    return frontier, web
