"""Deterministic single-threaded oracle crawler.

Re-enacts the reference crawl loop exactly — frontier heap scheduling
(reference crawler/frontier.py:61-125), worker loop (reference
worker.py:21-34), and the scraper pipeline (reference scraper.py:140-274) —
but with a *virtual* monotonic clock (waits advance the clock instead of
sleeping) and the synthetic web as the fetch oracle. Because fetches take
zero virtual time, every dequeue lands on an exact multiple of the
politeness delay; the resulting pop order, URL-seen set, saved-document
set, and per-domain ordering are the golden targets the Spark engine must
reproduce (SURVEY §5).

Scalar kernels are shared with the engine (functions/*), each of which is
differentially tested against the reference — so oracle fidelity reduces
to the scheduling logic in this file.
"""

from __future__ import annotations

import heapq
from collections import defaultdict, deque
from dataclasses import dataclass, field

from ..functions import urlkit
from ..functions.fingerprint import (
    NEAR_DUP_TAU,
    checksum_sha1,
    jaccard,
    shingle_fingerprints,
)
from ..functions.htmlparse import looks_like_xml, parse_page
from ..functions.robots import robots_allows
from ..functions.tokenize import similarity_tokens
from ..functions.validity import is_valid
from ..sources.webgen import SyntheticWeb

__all__ = ["OracleCrawler", "OracleResult"]


@dataclass
class OracleResult:
    # url_hash -> first-seen normalized URL (the reference's shelve dict)
    seen: dict[str, str] = field(default_factory=dict)
    # pop order: (pop_idx, virtual_time, domain, url)
    crawl_order: list[tuple[int, float, str, str]] = field(default_factory=list)
    # doc_id -> span tuples (kind, text, media_ref) for SAVED docs
    documents: dict[str, list[tuple[str, str | None, str | None]]] = field(
        default_factory=dict
    )
    saved_order: list[str] = field(default_factory=list)
    # (skipped doc_id, the earlier doc it matched)
    near_dup_skips: list[tuple[str, str]] = field(default_factory=list)
    exact_dup_hits: int = 0
    fetches: int = 0

    def per_domain_order(self) -> dict[str, list[str]]:
        out: dict[str, list[str]] = defaultdict(list)
        for _, _, domain, url in self.crawl_order:
            out[domain].append(url)
        return dict(out)


class OracleCrawler:
    def __init__(
        self,
        web: SyntheticWeb,
        politeness_delay: float = 0.5,
        robots: dict[str, list[str]] | None = None,
    ):
        self.web = web
        self.delay = max(politeness_delay, 0.5)  # frontier.py:24 floor
        self.robots = robots
        # frontier state (frontier.py:14-24)
        self.seen: dict[str, str] = {}
        self.completed: set[str] = set()
        self.domain_queues: dict[str, deque[str]] = defaultdict(deque)
        self.domain_next_time: dict[str, float] = {}
        self.heap: list[tuple[float, str]] = []
        self.now = 0.0
        # scraper/similarity state (scraper.py:13-14, similarity.py:12-14)
        self.doc_fingerprints: dict[str, set[int]] = {}
        self.saved_doc_ids: set[str] = set()
        self.exact_checksums: set[str] = set()

    # -- frontier (reference crawler/frontier.py) --------------------------
    def add_url(self, url: str) -> None:  # frontier.py:89-96
        url = urlkit.normalize(url)
        h = urlkit.url_hash(url)
        if h not in self.seen:
            self.seen[h] = url
            self._enqueue(url)

    def _enqueue(self, url: str) -> None:  # frontier.py:112-125
        domain = urlkit.politeness_host(url)
        queue = self.domain_queues[domain]
        was_empty = len(queue) == 0
        queue.append(url)
        next_ready = self.domain_next_time.get(domain, self.now)
        if next_ready < self.now:
            next_ready = self.now
        self.domain_next_time[domain] = next_ready
        if was_empty:
            heapq.heappush(self.heap, (next_ready, domain))

    def _get_tbd_url(self) -> str | None:  # frontier.py:61-87, virtual clock
        while True:
            if not self.heap:
                return None  # single-threaded: nothing pending anywhere
            next_time, domain = self.heap[0]
            if next_time > self.now:
                self.now = next_time  # virtual wait (cv.wait(timeout))
                continue
            heapq.heappop(self.heap)
            queue = self.domain_queues[domain]
            if not queue:
                continue
            url = queue.popleft()
            next_available = self.now + self.delay
            self.domain_next_time[domain] = next_available
            if queue:
                heapq.heappush(self.heap, (next_available, domain))
            return url

    def _mark_complete(self, url: str) -> None:  # frontier.py:98-110
        self.completed.add(urlkit.url_hash(url))

    # -- scraper pipeline (reference scraper.py:140-274) --------------------
    def _scrape(self, url: str) -> list[str]:
        spec = self.web.lookup(url)
        self.result.fetches += 1
        if spec is None or spec.status != 200 or spec.payload is None:
            return []  # scraper.py:200-201 (missing URL ≙ error status)
        if "text/html" not in (spec.content_type or "").lower():
            return []  # scraper.py:203-206
        payload = spec.payload
        if not payload:
            return []  # scraper.py:208-210
        if looks_like_xml(payload):
            return []  # scraper.py:212-216
        base = spec.final_url or url
        page = parse_page(payload, base_url=base)
        if page.soft404 or page.login_wall:
            return []  # scraper.py:230-233
        # exact-dup checksum set is write-only (quirk, scraper.py:236-239)
        chk = checksum_sha1(payload)
        if chk in self.exact_checksums:
            self.result.exact_dup_hits += 1
        else:
            self.exact_checksums.add(chk)
        # near-dup probe BEFORE indexing self (scraper.py:240-246)
        doc_id = urlkit.defragment(base)
        fps = shingle_fingerprints(similarity_tokens(page.page_text))
        near_dup_match = next(
            (
                other_id
                for other_id, other in self.doc_fingerprints.items()
                if jaccard(fps, other) >= NEAR_DUP_TAU
            ),
            None,
        )
        self.doc_fingerprints[doc_id] = fps
        if near_dup_match is not None:
            self.result.near_dup_skips.append((doc_id, near_dup_match))
        elif doc_id not in self.saved_doc_ids:  # scraper.py:41-44
            self.saved_doc_ids.add(doc_id)
            self.result.documents[doc_id] = [
                (s.kind, s.text, s.media_ref) for s in page.spans
            ]
            self.result.saved_order.append(doc_id)
        # outlinks returned even for near-dups (quirk, scraper.py:243-253)
        return page.outlinks

    # -- the crawl (reference worker.py:21-34 + launch.py) ------------------
    def run(self) -> OracleResult:
        self.result = OracleResult()
        for seed in self.web.seeds:
            self.add_url(seed)  # frontier.py:38-40
        pop_idx = 0
        while True:
            url = self._get_tbd_url()
            if url is None:
                break
            self.result.crawl_order.append(
                (pop_idx, self.now, urlkit.politeness_host(url), url)
            )
            pop_idx += 1
            links = self._scrape(url)
            for link in links:
                # robots gate (north_star addition; the reference delegates
                # robots to its cache server): RFC 9309 §2.2.2 matches
                # rules against the path of the URL actually requested,
                # i.e. the canonical form add_url enqueues — the same
                # URL the engine's robots_gate_join judges
                if is_valid(link) and robots_allows(
                    self.robots, urlkit.normalize(link)
                ):
                    self.add_url(link)  # worker.py:29-31
            self._mark_complete(url)
        self.result.seen = dict(self.seen)
        return self.result
