"""The fused fetch-result → parse → validate mapInPandas stage.

One Arrow-batched stage produces, per dequeued URL: content-gate verdict,
doc identity, checksum, the interleaved span array, shingle fingerprints,
MinHash band keys, and the already-validated outlink candidates — i.e.
everything downstream merge logic needs, so the expensive Python work
happens exactly once per page (reference pipeline scraper.py:187-274; the
reference's 4 worker threads overlap fetch+parse, here the whole batch is
one parallel stage). Given the epoch's Bloom seen-filter, the stage also
probes every outlink in the same pass.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..functions import urlkit
from ..functions.fingerprint import (
    checksum_sha1,
    minhash_bands,
    minhash_signature,
    shingle_fingerprints,
)
from ..functions.htmlparse import looks_like_xml, parse_page
from ..functions.tokenize import similarity_tokens
from ..functions.validity import is_valid

__all__ = ["PARSED_SCHEMA", "make_parse_stage"]

_SPAN_DDL = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

PARSED_SCHEMA = (
    "url string, url_hash string, domain string, slot int, "
    "rk_round bigint, rk_pop string, rk_pos int, "
    "gate string, doc_id string, checksum string, word_count int, "
    f"spans {_SPAN_DDL}, fps array<bigint>, bands array<bigint>, "
    "outlinks array<struct<url:string,url_hash:string,domain:string,pos:int,"
    "maybe_seen:boolean>>"
)


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def make_parse_stage(
    fetcher=None,
    compute_sketches: bool = True,
    politeness_delay: float = 0.0,
    delay_col: str | None = None,
    clock=None,
    seen_filter=None,
):
    """Returns a mapInPandas function over rows with columns
    (url, url_hash, domain, slot, rk_round, rk_pop, rk_pos,
    status, content_type, payload, final_url).

    With ``fetcher`` set (url -> (status, content_type, payload, final_url))
    the fetch happens *inside* the stage — the shape real HTTP fetching
    takes on a cluster — and the input needs no fetch columns.

    ``politeness_delay`` > 0 (fetcher mode only) enables WALL-CLOCK pacing
    (reference frontier.py politeness, SURVEY §2.7 UDF family 5): within a
    partition no domain is fetched more often than once per delay. Each
    batch is processed in slot order so different domains' fetches
    interleave between a domain's consecutive hits and the sleep only
    covers genuinely idle time. Correctness of the global guarantee
    requires the caller to partition the input BY DOMAIN (the engine's
    wallclock_politeness mode does) — two partitions holding the same
    domain would pace independently. ``clock`` (monotonic()/sleep())
    is injectable for the fake-clock property test; defaults to ``time``.
    ``delay_col`` names a double column on the input rows carrying that
    row's robots.txt ``Crawl-delay`` (NULL = none declared -> config
    default), joined in by the caller from
    functions.robots.build_crawl_delays_df. A declared crawl-delay wins
    over the config default in EITHER direction, matching how polite
    crawlers treat the directive.
    The sandbox bench/oracle paths keep politeness VIRTUAL (epoch token
    budgets) and leave this off — real HTTP deployments turn it on.

    Outlinks are not robots-gated here: the engine joins its robots dim
    onto the canonical candidate URLs after the stage.

    ``seen_filter`` is the epoch's ``(bloom, acc)`` pair: ``bloom`` a
    broadcast functions.bloom.BloomFilter, ``acc`` an accumulator over
    functions.bloom.OR_BITS. Each batch probes all its outlink hashes in
    one vectorized call into the outlinks' ``maybe_seen`` field (False
    proves the URL unseen) and adds their bits to ``acc``. Without it
    ``maybe_seen`` is null."""
    if clock is None:
        import time as clock  # noqa: F811 — module provides monotonic+sleep
    pace = fetcher is not None and (
        politeness_delay > 0 or delay_col is not None
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_fetch: dict[str, float] = {}  # per-partition pacing state
        for pdf in batches:
            if pace and "slot" in pdf.columns:
                pdf = pdf.sort_values("slot", kind="stable")
            out: list[dict] = []
            batch_links: list[dict] = []
            for row in pdf.itertuples(index=False):
                rec = {
                    "url": row.url,
                    # recomputed when the dequeue plan dropped the column to
                    # slim its window shuffles (frontier urls are canonical,
                    # so the hash reproduces the stored identity)
                    "url_hash": getattr(row, "url_hash", None)
                    or urlkit.url_hash(row.url),
                    "domain": row.domain,
                    "slot": int(getattr(row, "slot", 1) or 1),
                    "rk_round": int(row.rk_round),
                    "rk_pop": row.rk_pop,
                    "rk_pos": int(row.rk_pos),
                    "gate": "ok",
                    "doc_id": None,
                    "checksum": None,
                    "word_count": 0,
                    "spans": None,
                    "fps": None,
                    "bands": None,
                    "outlinks": [],
                }
                if fetcher is not None:
                    if pace:
                        now = clock.monotonic()
                        due = last_fetch.get(row.domain)
                        if due is not None:
                            dly = politeness_delay
                            if delay_col is not None:
                                v = getattr(row, delay_col, None)
                                # pandas renders a NULL double as NaN
                                if v is not None and v == v:
                                    dly = float(v)
                            wait = due + dly - now
                            if wait > 0:
                                clock.sleep(wait)
                                now += wait
                        last_fetch[row.domain] = now
                    status, content_type, payload, final_url = fetcher(row.url)
                else:
                    status = row.status
                    content_type = row.content_type
                    payload = row.payload
                    final_url = row.final_url
                # content gates (reference scraper.py:200-216); a URL absent
                # from the fetch oracle behaves like an error status (the
                # left join's null status arrives as NaN)
                if pd.isna(status) or int(status) != 200 or payload is None:
                    rec["gate"] = "status"
                    out.append(rec)
                    continue
                payload = bytes(payload)
                ctype = (content_type or "").lower()
                if "text/html" not in ctype:
                    rec["gate"] = "ctype"
                    out.append(rec)
                    continue
                if not payload:
                    rec["gate"] = "empty"
                    out.append(rec)
                    continue
                if looks_like_xml(payload):
                    rec["gate"] = "xml"
                    out.append(rec)
                    continue

                base = final_url or row.url
                page = parse_page(payload, base_url=base)
                if page.soft404:
                    rec["gate"] = "soft404"
                    out.append(rec)
                    continue
                if page.login_wall:
                    rec["gate"] = "login"
                    out.append(rec)
                    continue

                rec["doc_id"] = urlkit.defragment(base)  # scraper.py:242
                rec["checksum"] = checksum_sha1(payload)
                rec["word_count"] = page.word_count
                rec["spans"] = [
                    {
                        "kind": s.kind,
                        "text": s.text,
                        "media_ref": s.media_ref,
                        "offset": s.offset,
                    }
                    for s in page.spans
                ]
                # near-dup inputs (skipped when off); the signature keeps
                # minhash_signature's fixed 64 permutations, so every
                # persisted band set is comparable under SKETCH_SCHEME
                if compute_sketches:
                    tokens = similarity_tokens(page.page_text)
                    rec["fps"] = sorted(
                        _signed64(v) for v in shingle_fingerprints(tokens)
                    )
                    rec["bands"] = [
                        _signed64(b)
                        for b in minhash_bands(minhash_signature(tokens))
                    ]
                links = []
                pos = 0
                for link in page.outlinks:  # already defragged + page-deduped
                    if not is_valid(link):
                        continue  # worker loop filter (scraper.py:142)
                    normalized = urlkit.normalize(link)  # frontier.py:90
                    links.append(
                        {
                            "url": normalized,
                            "url_hash": urlkit.url_hash(normalized),
                            "domain": urlkit.politeness_host(normalized),
                            "pos": pos,
                            "maybe_seen": None,
                        }
                    )
                    pos += 1
                rec["outlinks"] = links
                batch_links.extend(links)
                out.append(rec)
            if seen_filter is not None and batch_links:
                bloom, acc = seen_filter
                flags, inc = bloom.value.probe_and_mark(
                    [link["url_hash"] for link in batch_links]
                )
                for link, flag in zip(batch_links, flags.tolist()):
                    link["maybe_seen"] = flag
                acc.add(inc)
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "url_hash", "domain", "slot", "rk_round", "rk_pop",
                    "rk_pos", "gate", "doc_id", "checksum", "word_count",
                    "spans", "fps", "bands", "outlinks",
                ],
            )

    return stage
