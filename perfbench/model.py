"""Pure-Python model of a relaxed-ordering crawl over the synthetic web.

The crawl workloads check the engine against this model instead of
against values pinned per seed: the benchmark is run with seeds it has
never seen, and relaxed ordering is deterministic, so the expected seen
set, completions, per-domain served watermarks and saved-document count
can be computed exactly from the generated inputs.

The model follows the engine's documented relaxed-mode schedule
(streaming/epochs.py):

* an epoch with base round ``b`` serves, per domain, the FIFO rows with
  ``served < seq <= served + tokens``; ``slot = seq - served``;
* each outlink's first occurrence wins by ``(slot, parent_domain, pos)``;
* links not yet seen are appended to their domain's FIFO in discovery
  order ``(b + slot - 1, parent_domain, pos)``;
* with near-dup detection on, a document is a near duplicate iff an
  earlier document, in ``(round, domain)`` order, has the same text.
  Synthetic page ``i`` draws its words from ``i % 99991``, so two pages
  share text exactly when their ids agree modulo 99,991, and otherwise
  share no word.

Only the page parse is taken from the program (``is_valid`` and the URL
identity ``url_hash``); the links, domains and texts come from the
generator's closed-form formulas.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from spacetime_crawler4py_spark.functions import urlkit
from spacetime_crawler4py_spark.functions.validity import is_valid
from spacetime_crawler4py_spark.sources.synthfrontier import _dom_of, _links_of

# synthfrontier._words_of cycles every 99,991 ids (see README, "Traps")
TEXT_PERIOD = 99991
_KNUTH = 2654435761
_MASK32 = (1 << 32) - 1


def seed_key(seed: int) -> int:
    """The seed as the generator uses it (kept small so the Spark-side
    arithmetic stays far from BIGINT overflow)."""
    return seed % (1 << 24)


def mix(i: int, seed: int) -> int:
    """Seeded 32-bit hash of a URL id; the Spark twin is in crawl.py."""
    return ((i + 1) * _KNUTH + seed_key(seed) * 97) & _MASK32


def is_seeded(i: int, seed: int) -> bool:
    return (mix(i, seed) >> 16) & 1 == 0


def fifo_key(i: int, seed: int) -> tuple[int, int]:
    """A seeded domain's FIFO order. Pages with the same text share the
    hash, so same-text twins sit at the same depth of their queues and
    are crawled close together; a plain hash of ``i`` would keep them
    apart, and a short crawl would then see no near duplicate."""
    return mix(i % TEXT_PERIOD, seed), i


def domain_name(d: int) -> str:
    return f"d{d}.ics.uci.edu"


def url_of(i: int, d: int) -> str:
    return f"https://{domain_name(d)}/p/{i}"


@dataclass
class CrawlModel:
    n_urls: int
    n_domains: int
    seed: int
    hot_pct: int = 25
    out_degree: int = 8
    neardup: bool = False
    fifo: dict[str, list[int]] = field(default_factory=dict)
    served: dict[str, int] = field(default_factory=dict)
    seen: set[int] = field(default_factory=set)
    completed: list[int] = field(default_factory=list)
    docs_saved: int = 0
    near_dups: int = 0
    new_per_epoch: list[int] = field(default_factory=list)
    base: int = 0
    _fp_texts: set[int] = field(default_factory=set)
    _valid: dict[int, bool] = field(default_factory=dict)

    def __post_init__(self) -> None:
        seeded: dict[str, list[int]] = {}
        for i in range(self.n_urls):
            if is_seeded(i, self.seed):
                d = domain_name(self._dom(i))
                seeded.setdefault(d, []).append(i)
                self.seen.add(i)
        for d, ids in seeded.items():
            self.fifo[d] = sorted(ids, key=lambda i: fifo_key(i, self.seed))

    def _dom(self, i: int) -> int:
        return _dom_of(i, self.n_domains, self.hot_pct)

    def _outlinks(self, i: int) -> list[int]:
        """Valid link targets of page ``i`` in page order, de-duplicated
        (parse_page keeps the first occurrence of each link)."""
        out: list[int] = []
        for t, d in _links_of(i, self.n_urls, self.n_domains, self.hot_pct,
                              self.out_degree):
            if t in out:
                continue
            if t not in self._valid:
                self._valid[t] = is_valid(url_of(t, d))
            if self._valid[t]:
                out.append(t)
        return out

    def epoch(self, tokens: int) -> int:
        """Advance one epoch; returns the number of pops."""
        b = self.base
        pops: list[tuple[int, str, int]] = []  # (slot, domain, id)
        for d, ids in self.fifo.items():
            s = self.served.get(d, 0)
            for slot, i in enumerate(ids[s:s + tokens], start=1):
                pops.append((slot, d, i))
        winners: dict[int, tuple[int, str, int]] = {}
        for slot, d, i in pops:
            for pos, t in enumerate(self._outlinks(i)):
                key = (slot, d, pos)
                if t not in winners or key < winners[t]:
                    winners[t] = key
        new = sorted(
            (key, t) for t, key in winners.items() if t not in self.seen
        )
        for _key, t in new:  # discovery order within each domain
            self.fifo.setdefault(domain_name(self._dom(t)), []).append(t)
            self.seen.add(t)
        self.new_per_epoch.append(len(new))
        for slot, d, i in sorted(pops):  # document order (round, domain)
            self.served[d] = self.served.get(d, 0) + 1
            self.completed.append(i)
            text = i % TEXT_PERIOD
            if self.neardup and text in self._fp_texts:
                self.near_dups += 1
            else:
                self.docs_saved += 1
            self._fp_texts.add(text)
        self.base = b + tokens
        return len(pops)

    def seen_hashes(self) -> set[str]:
        return {urlkit.url_hash(url_of(i, self._dom(i))) for i in self.seen}

    def completed_hashes(self) -> list[str]:
        return [urlkit.url_hash(url_of(i, self._dom(i))) for i in self.completed]
