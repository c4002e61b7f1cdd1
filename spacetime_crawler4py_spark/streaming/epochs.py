"""The epoch-loop crawl engine.

The reference's continuous pull loop (worker.py:21-34, frontier.py:61-87)
becomes a driver-side batch fixpoint: each *round* is one politeness
quantum (0.5 s of virtual time — every domain serves at most one URL),
each round is executed as Spark batch jobs over the frontier tables, and
the loop runs until no URL is pending (frontier.py:64-65 termination).

Two ordering disciplines:

* ``ordering="exact"`` — parity mode. Reproduces the reference heap's pop
  order *exactly*, including mid-round domain joiners (a domain discovered
  during round k serves its first URL within round k, reference
  frontier.py:112-125 push-at-now semantics). Fetch/parse/validation run
  as Spark stages; the lexicographic drain over ready domains — pure
  scheduling metadata, one tuple per domain — runs on the driver, as does
  first-occurrence dedup bookkeeping for the round. This is the mode the
  golden tests compare against the single-threaded oracle.

* ``ordering="relaxed"`` — scale mode. Everything is DataFrame-native:
  window-ranked token-budget dequeue (plans/dequeue.py), fused
  fetch+parse mapInPandas, distributed first-occurrence dedup
  (a ``min_by`` aggregate per url_hash on the discovery key),
  Bloom-prefiltered anti-join against the seen set, and appends. The
  Bloom probe runs inside the fetch+parse stage (one vectorized call per
  Arrow batch over its outlinks), which also returns the filter's
  increment through an OR accumulator; the epoch runs no Bloom-specific
  Spark job.
  ``rounds_per_epoch`` politeness quanta batch into one epoch for
  throughput; newly discovered domains start at the next epoch (the one
  documented scheduling deviation — URL-seen set and per-domain FIFO
  discipline are unaffected).

  The epoch's commit phase submits its independent appends together from
  a driver thread pool, so Spark runs their small jobs at the same time:
  (a) frontier, then seen; (b) completions;
  (c) documents; (d) fingerprints; (e) fetch_log. Only when all five have
  committed does the watermarks compact run — the epoch's commit point —
  followed by the metrics row. The metrics counts are observed
  (``DataFrame.observe``) on the jobs that already run, not recounted.

Each politeness dimension has one home, a table or DataFrame; in relaxed
mode none is a driver dict, so driver state stays O(1) at any host count:

* per-domain watermarks (served, enqueued) — the ``watermarks`` table,
  advanced per epoch by a distributed merge (relaxed mode; exact mode
  keeps only its own seq counter, rebuilt from the frontier at resume);
* robots rules — the ``robots_df`` ``(host, rules)`` dim, joined onto
  candidate links in both modes (functions.robots.robots_gate_join);
* crawl delays — the ``crawl_delays_df`` ``(domain, crawl_delay)`` dim,
  joined onto the dequeued batch for the wall-clock pacer.

State lives in the SnapshotStore tables (frontier, seen, watermarks,
completions, documents, fingerprints, fetch_log, metrics); the engine can
be killed and resumed from the latest snapshot (reference resume
semantics frontier.py:48-59).
"""

from __future__ import annotations

import heapq
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urlkit
from ..functions.bloom import OR_BITS, BloomFilter
from ..functions.fingerprint import NEAR_DUP_TAU, SKETCH_SCHEME, jaccard
from ..functions.robots import robots_gate_join
from ..plans.dequeue import (
    DISCOVERY_ORDER,
    politeness_heads,
    politeness_heads_indexed,
    salt_col,
    salt_of,
)
from ..plans.parse_stage import PARSED_SCHEMA, make_parse_stage
from ..sources.store import SnapshotStore

__all__ = ["CrawlEngine", "EngineConfig"]


def _arrow_schemas():
    """The schema of every state table (pyarrow appends use it too)."""
    import pyarrow as pa

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    return {
        # seq = the row's permanent 1-based position in its domain's FIFO,
        # assigned once at insert (monotone: every later insert sorts after
        # every earlier one, because rk_round is the strictly-increasing
        # epoch counter). It turns the politeness dequeue into a pure
        # filter — see plans.dequeue.politeness_heads_indexed.
        "frontier": pa.schema(
            [("url_hash", pa.string()), ("url", pa.string()),
             ("domain", pa.string()), ("salt", pa.int32()),
             ("parent", pa.string()), ("rk_round", pa.int64()),
             ("rk_pop", pa.string()), ("rk_pos", pa.int32()),
             ("epoch_added", pa.int64()), ("seq", pa.int64())]
        ),
        "seen": pa.schema([("url_hash", pa.string())]),
        "completions": pa.schema(
            [("url_hash", pa.string()), ("round", pa.int64())]
        ),
        "documents": pa.schema(
            [("doc_id", pa.string()), ("domain", pa.string()),
             ("round", pa.int64()), ("word_count", pa.int32()),
             ("spans", pa.list_(span))]
        ),
        "fingerprints": pa.schema(
            [("doc_id", pa.string()), ("ord_round", pa.int64()),
             ("ord_pop", pa.string()), ("fps", pa.list_(pa.int64())),
             ("bands", pa.list_(pa.int64()))]
        ),
        "fetch_log": pa.schema(
            [("round", pa.int64()), ("url", pa.string()),
             ("url_hash", pa.string()), ("domain", pa.string()),
             ("gate", pa.string()), ("checksum", pa.string()),
             ("doc_id", pa.string())]
        ),
        "metrics": pa.schema(
            [("round", pa.int64()), ("pops", pa.int64()),
             ("parsed_ok", pa.int64()), ("new_urls", pa.int64()),
             ("docs_saved", pa.int64()), ("near_dups", pa.int64()),
             ("exact_dups", pa.int64()), ("wall_s", pa.float64())]
        ),
    }


ARROW_SCHEMAS = _arrow_schemas()


def _once(fn):
    """``fn()`` computed at most once across threads; every caller gets
    that one result (a call that raised is retried by the next caller)."""
    lock = threading.Lock()
    box: list = []

    def get():
        with lock:
            if not box:
                box.append(fn())
            return box[0]

    return get


@dataclass
class EngineConfig:
    """Scalar knobs only; the per-domain politeness dims are DataFrames
    passed to CrawlEngine (robots_df, crawl_delays_df) or tables in its
    store (watermarks)."""

    politeness_delay: float = 0.5          # reference config.ini:12, floored
    # Defaults are the SCALE path: relaxed epoch ordering + banded-LSH
    # near-dup. The exact parity mode (reference-identical ordering, driver
    # near-dup index) exists to reproduce reference semantics on small
    # graphs and must be opted into — it collects per-round outputs to the
    # driver and would OOM on a 10^10-row frontier.
    ordering: str = "relaxed"              # "relaxed" | "exact" (parity mode)
    rounds_per_epoch: int = 1              # relaxed-mode token budget
    neardup: str = "lsh"                   # "lsh" | "exact" (parity) | "off"
    # Relaxed-mode Bloom prefilter before the seen anti-join: a URL the
    # filter has never seen skips the join. The probe and the increment run
    # inside the fetch+parse stage, so the filter's per-epoch cost is one
    # broadcast; what is left is its build at resume. Exact mode builds
    # none.
    use_bloom: bool = True
    # metrics are observed on the epoch's own jobs in every config, so this
    # selects nothing; kept only for callers that still pass it
    collect_metrics: bool = True
    compact_every: int = 0                 # >0: compact state tables every N epochs
    dedup_doc_ids: bool = True             # False when the fetcher can't redirect
                                           # (doc_id collisions impossible) —
                                           # skips one per-epoch probe job
    # Wall-clock politeness in the in-stage fetcher (real HTTP mode): each
    # fetch+parse task paces same-domain fetches to >= politeness_delay
    # apart (or the domain's crawl_delays_df row), and the dequeued batch
    # is partitioned BY DOMAIN (not round-robin) so the per-partition
    # guarantee is global. Off in oracle/bench mode, where politeness stays
    # virtual (the epoch token budget) and the round-robin rebalance
    # spreads the hot domain instead — with pacing on, a hot domain is
    # serialized by definition, so domain-partitioning loses nothing.
    wallclock_politeness: bool = False


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        web_df: DataFrame | None,
        config: EngineConfig | None = None,
        fetcher=None,
        robots_df: DataFrame | None = None,
        crawl_delays_df: DataFrame | None = None,
    ):
        """``web_df`` is the synthetic fetch-oracle table
        (url, status, final_url, content_type, payload, domain), joined
        before parse. Alternatively ``fetcher`` (url -> (status, ctype,
        payload, final_url)) fetches *inside* the fused mapInPandas stage —
        the shape real HTTP fetching takes on a cluster.

        ``robots_df`` is the robots gate: a ``(host, rules)`` DataFrame
        from functions.robots.build_robots_rules_df, joined onto candidate
        links (functions.robots.robots_gate_join) before the seen probe, in
        both ordering modes. It judges the canonical URL the engine will
        request. O(hosts) rules never reach the driver.

        ``crawl_delays_df`` is the per-domain robots.txt ``Crawl-delay``
        override for the wall-clock pacer: a ``(domain, crawl_delay)``
        DataFrame from functions.robots.build_crawl_delays_df, joined onto
        the dequeued batch by domain. A declared delay wins over
        ``politeness_delay`` for its domain. Used only when
        ``wallclock_politeness`` is on and ``fetcher`` is set."""
        self.spark = spark
        self.store = store
        self.web_df = web_df
        self.cfg = config or EngineConfig()
        self._robots_df = robots_df
        self._fetcher = fetcher
        self._pace = self.cfg.wallclock_politeness and fetcher is not None
        self._crawl_delays_df = crawl_delays_df if self._pace else None
        # in-memory mirrors rebuilt from snapshots on resume
        self._round = 0
        self._fps_index: list[tuple[str, frozenset]] = []  # exact near-dup
        self._saved_doc_ids: set[str] = set()
        self._checksums: set[str] = set()
        self._bloom: BloomFilter | None = None
        # exact mode's per-domain enqueue counter (the last assigned
        # frontier seq); relaxed mode keeps it EMPTY — its counters live
        # only in the watermarks table
        self._next_seq: dict[str, int] = {}
        # O(1) stand-in for max(served) in relaxed mode: exact at resume,
        # advanced by +tokens per epoch (a monotone upper bound — served
        # can grow by at most tokens per domain per epoch). Only used to
        # derive the dequeue's scan-pruning literal, where any upper bound
        # is correct and tighter merely prunes more.
        self._max_served_bound: int = 0
        self._resume()

    # ------------------------------------------------------------------
    # state & snapshots
    # ------------------------------------------------------------------
    def _resume(self) -> None:
        # relaxed mode resumes at the round its last committed epoch
        # recorded on the watermarks table (the epoch's commit point), so a
        # replayed epoch reuses its round numbers even when its completions
        # outlived the crash; otherwise the round after the last completion
        next_round = self.store.get_property("watermarks", "next_round")
        comp = self.store.read_or_none("completions")
        if self.cfg.ordering == "relaxed" and next_round is not None:
            self._round = int(next_round)
        elif comp is not None:
            row = comp.agg(F.max("round").alias("m")).collect()[0]
            self._round = int(row.m) + 1 if row.m is not None else 0
        frontier = self.store.read_or_none("frontier")
        if frontier is not None and "seq" not in frontier.columns:
            # legacy (pre-seq) store: one-time migration assigning each row
            # its permanent per-domain FIFO position
            order = [F.col(c).asc() for c in DISCOVERY_ORDER]
            w = Window.partitionBy("domain").orderBy(*order)
            self.store.compact(
                "frontier",
                frontier.withColumn(
                    "seq", F.row_number().over(w).cast("bigint")
                ),
                sort_by=["seq"],
            )
            frontier = self.store.read("frontier")
        # ALWAYS lift the enqueue counters to the frontier's actual
        # per-domain max(seq): exact mode rebuilds its dict from it,
        # relaxed mode max-merges it into the watermarks table. The epoch
        # loop commits the frontier append (new seq values) BEFORE the
        # watermark merge persists the counters, so a crash in that window
        # leaves the table stale; trusting it alone would reassign
        # duplicate seq numbers (two rows sharing a politeness slot, later
        # rows silently skipped by the served watermark). This also covers
        # externally seeded stores (bench), where no watermarks table
        # exists at all.
        if self.cfg.ordering == "exact":
            if frontier is not None:
                self._next_seq = {
                    r.domain: int(r.m)
                    for r in frontier.groupBy("domain")
                    .agg(F.max("seq").alias("m")).collect()
                }
        else:
            self._sync_watermarks(frontier)
        if self.cfg.neardup != "off" and self.store is not None:
            # sketch-scheme guard (see fingerprint.SKETCH_SCHEME): signatures
            # persisted under a different hash scheme are silently
            # incomparable — band joins would quietly miss near-dups — so
            # refuse to resume across schemes instead of mixing them.
            tag = self.store.get_property("fingerprints", "sketch_scheme")
            if self.store.exists("fingerprints") and tag != SKETCH_SCHEME:
                raise ValueError(
                    f"fingerprints table was written under sketch scheme "
                    f"{tag!r}, engine is {SKETCH_SCHEME!r}: rebuild the "
                    "fingerprints table (drop it and re-run) instead of "
                    "mixing incompatible signatures"
                )
            if tag is None:
                self.store.set_property(
                    "fingerprints", "sketch_scheme", SKETCH_SCHEME
                )
        # _fps_index is the EXACT-ORDERING near-dup state (used whenever
        # neardup is on, lsh or exact — _append_round_outputs probes it
        # regardless of scheme); relaxed mode never touches it (its dedup
        # runs as distributed joins). The old `neardup == "exact"` guard
        # left exact+lsh resumes with an empty index — near-dups against
        # pre-resume documents silently missed.
        if self.cfg.ordering == "exact" and self.cfg.neardup != "off":
            fps_df = self.store.read_or_none("fingerprints")
            if fps_df is not None:
                rows = fps_df.orderBy("ord_round", "ord_pop").collect()
                self._fps_index = [
                    (r.doc_id, frozenset(r.fps or [])) for r in rows
                ]
        if self.cfg.ordering == "exact":
            # driver mirrors are consumed only by the exact parity mode
            # (_append_round_outputs); a relaxed-mode resume on a 10^10-doc
            # store must never collect the doc/checksum universe to the
            # driver (its dedup runs as anti-joins instead)
            docs = self.store.read_or_none("documents")
            if docs is not None:
                self._saved_doc_ids = {
                    r.doc_id for r in docs.select("doc_id").distinct().collect()
                }
            log = self.store.read_or_none("fetch_log")
            if log is not None:
                self._checksums = {
                    r.checksum
                    for r in log.select("checksum").where("checksum is not null")
                    .distinct().collect()
                }
        # the all-time URL-seen set lives in its own narrow hash-only table
        # (anti-join probe side + bloom source); the frontier table keeps the
        # full rows and — in relaxed mode — may drop its served prefix at
        # compaction. Stores seeded externally (bench) start without it:
        # materialize it from the frontier once, outside the epoch loop.
        if not self.store.exists("seen"):
            frontier = self.store.read_or_none("frontier")
            if frontier is not None:
                self.store.append("seen", frontier.select("url_hash"))
        elif self.store.exists("frontier"):
            # crash-window repair (SURVEY §2.9a): every writer — the relaxed
            # epoch, the exact round, seed() — commits its frontier delta
            # BEFORE the matching seen append, so a crash in between leaves
            # exactly the LAST frontier delta unmirrored in the seen set.
            # Without this backfill the replayed epoch re-inserts that
            # delta's URLs as duplicate frontier rows (each fetched twice
            # and burning a politeness slot). The anti-join is delta-sized;
            # after a compaction crash the last path is a full base, which
            # still repairs correctly, just at base cost — resume-only.
            last = self.store.read_last_delta("frontier").select("url_hash")
            missing = last.join(
                self.store.read("seen"), "url_hash", "left_anti"
            ).distinct()
            if not missing.isEmpty():
                self.store.append("seen", missing)
        if self.cfg.use_bloom and self.cfg.ordering == "relaxed":
            seen = self.store.read_or_none("seen")
            if seen is not None:
                n = seen.count()
                self._bloom = BloomFilter.build_from_df(
                    seen, "url_hash", max(n, 1024)
                )
            else:
                self._bloom = BloomFilter.sized_for(1 << 16)

    @staticmethod
    def _merged_watermarks(
        wm: DataFrame | None,
        adds: DataFrame | None = None,
        enq: DataFrame | None = None,
    ) -> DataFrame:
        """THE watermark advance, in one place (resume sync, seeding,
        epoch commit): merge the old dim with optional served increments
        ``(domain, _add)`` and enqueue candidates ``(domain, _dmax)``;
        served' = served + sum(_add), enqueued' = max(enqueued, max(_dmax)).
        Both take raw rows (a domain may repeat), so callers need not
        pre-aggregate: one union + per-domain aggregation is a single
        shuffle with map-side combine. Any input may be None; at least one
        must not be."""
        zero = F.lit(0).cast("bigint")
        parts = []
        if wm is not None:
            # a legacy (pre-seq) table carries served only
            enqueued = F.col("enqueued") if "enqueued" in wm.columns else zero
            parts.append(
                wm.select("domain", "served", enqueued.alias("enqueued"))
            )
        if adds is not None:
            parts.append(adds.select(
                "domain", F.col("_add").alias("served"), zero.alias("enqueued")
            ))
        if enq is not None:
            parts.append(enq.select(
                "domain", zero.alias("served"), F.col("_dmax").alias("enqueued")
            ))
        merged = parts[0]
        for part in parts[1:]:
            merged = merged.unionByName(part)
        return merged.groupBy("domain").agg(
            F.coalesce(F.sum("served"), zero).cast("bigint").alias("served"),
            F.coalesce(F.max("enqueued"), zero).cast("bigint")
            .alias("enqueued"),
        )

    def _sync_watermarks(self, frontier: DataFrame | None) -> None:
        """Relaxed-mode resume: the crash-window repair done distributively
        — enqueued := max(enqueued, per-domain max(seq) over the frontier)
        via one merge + compact — so the driver never materializes the
        domain dim. Also initializes the O(1) served upper bound used for
        dequeue scan pruning (the repair leaves served untouched)."""
        wm = self.store.read_or_none("watermarks")
        if wm is not None:
            row = wm.agg(F.max("served").alias("m")).collect()[0]
            self._max_served_bound = int(row.m or 0)
        if frontier is not None:
            self.store.compact("watermarks", self._merged_watermarks(
                wm, enq=frontier.select("domain", F.col("seq").alias("_dmax"))
            ))

    def _merge_enqueued(self, maxima: dict[str, int]) -> None:
        """Fold a small {domain: max assigned seq} map (seeding) into the
        watermarks table."""
        inc = self.spark.createDataFrame(
            list(maxima.items()), "domain string, _dmax bigint"
        )
        wm = self.store.read_or_none("watermarks")
        self.store.compact(
            "watermarks", self._merged_watermarks(wm, enq=inc)
        )

    def seed(self, urls: list[str]) -> None:
        """Insert seed URLs (reference frontier.py:38-40); idempotent via
        the same first-seen rule as discovered links. seq is assigned after
        the seen-filter so domains never carry gaps (a gap would waste one
        politeness slot per epoch forever)."""
        pre = []
        seen_local = set()
        for i, raw in enumerate(urls):
            url = urlkit.normalize(raw)
            h = urlkit.url_hash(url)
            if h in seen_local:
                continue
            seen_local.add(h)
            pre.append((h, url, urlkit.politeness_host(url), i))
        existing = self.store.read_or_none("seen")
        if existing is not None and pre:
            cand = self.spark.createDataFrame(
                [(h,) for h, *_ in pre], "url_hash string"
            )
            fresh = {
                r.url_hash
                for r in cand.join(
                    existing.select("url_hash"), "url_hash", "left_anti"
                ).collect()
            }
            pre = [t for t in pre if t[0] in fresh]
        relaxed = self.cfg.ordering == "relaxed"
        if relaxed:
            # counters for the seeded domains only (seeds are O(10^0..10^2)
            # rows; the full dim never comes to the driver)
            counters: dict[str, int] = {}
            doms = sorted({t[2] for t in pre})
            wm = self.store.read_or_none("watermarks")
            if wm is not None and doms:
                counters = {
                    r.domain: int(r.enqueued or 0)
                    for r in wm.where(F.col("domain").isin(doms)).collect()
                }
        else:
            counters = self._next_seq
        rows = []
        for h, url, dom, i in pre:
            seq = counters.get(dom, 0) + 1
            counters[dom] = seq
            rows.append(
                (h, url, dom, salt_of(h), None, -1, "", i, -1, seq)
            )
        names = [f.name for f in ARROW_SCHEMAS["frontier"]]
        rows.sort(key=lambda r: r[-1])  # seq-sorted like every frontier delta
        self.store.append_rows(
            "frontier", [dict(zip(names, r)) for r in rows],
            ARROW_SCHEMAS["frontier"],
        )
        if relaxed and rows:
            # counters commit AFTER the frontier rows — the same crash
            # order the epoch loop keeps (see _resume's max-merge): a
            # crash in between leaves a stale snapshot that the resume
            # repairs from frontier max(seq). The inverted order would
            # persist phantom enqueued values for rows that never landed,
            # an unrepairable seq gap that stalls the domain forever.
            self._merge_enqueued(
                {dom: counters[dom] for dom in {r[2] for r in rows}}
            )
        self.store.append_rows(
            "seen", [{"url_hash": r[0]} for r in rows], ARROW_SCHEMAS["seen"]
        )
        if self._bloom is not None:
            self._bloom.add_many(r[0] for r in rows)

    def _pending_df(self) -> DataFrame:
        frontier = self.store.read("frontier")
        comp = self.store.read_or_none("completions")
        if comp is None:
            return frontier
        return frontier.join(comp.select("url_hash"), "url_hash", "left_anti")

    # ------------------------------------------------------------------
    # shared stages
    # ------------------------------------------------------------------
    def _fetch_and_parse(
        self, dequeued: DataFrame, seen_filter=None
    ) -> DataFrame:
        """dequeued columns: url, domain, slot, rk_round, rk_pop, rk_pos
        (+ url_hash in exact mode). Joins the fetch oracle (or fetches
        in-stage), then the fused parse stage; ``seen_filter`` is the
        epoch's (broadcast Bloom filter, OR accumulator) pair, see
        plans.parse_stage.make_parse_stage."""
        stage = make_parse_stage(
            fetcher=self._fetcher,
            compute_sketches=self.cfg.neardup != "off",
            politeness_delay=self.cfg.politeness_delay if self._pace else 0.0,
            delay_col=(
                "crawl_delay" if self._crawl_delays_df is not None else None
            ),
            seen_filter=seen_filter,
        )
        cols = ["url", "domain", "slot", "rk_round", "rk_pop", "rk_pos"]
        if "url_hash" in dequeued.columns:
            cols.insert(1, "url_hash")
        slim = dequeued.select(*cols)
        if self._fetcher is not None:
            if self._crawl_delays_df is not None:
                # per-domain Crawl-delay rides the batch as a column; the
                # dequeue already partitioned by domain, and the dim is
                # domain-keyed, so the join co-locates without a new
                # shuffle shape (AQE broadcasts it at sane dim sizes)
                slim = slim.join(
                    self._crawl_delays_df.select("domain", "crawl_delay"),
                    "domain",
                    "left",
                )
            return slim.mapInPandas(stage, schema=PARSED_SCHEMA)
        web = F.broadcast(self.web_df.select(
            "url", "status", "final_url", "content_type", "payload"
        ))
        joined = slim.join(web, "url", "left")
        return joined.mapInPandas(stage, schema=PARSED_SCHEMA)

    def _robots_gate(self, links: DataFrame) -> DataFrame:
        """Keep the robots-allowed rows of ``links`` (a ``url`` column of
        canonical URLs); identity when no rules dim was given."""
        if self._robots_df is None:
            return links
        return robots_gate_join(links, self._robots_df, url_col="url")

    def _append_round_outputs(
        self,
        round_no: int,
        parsed_rows: list,
        pop_order: list[tuple[int, str]],
        new_frontier_rows: list[tuple],
    ) -> dict:
        """Exact-mode epilogue: near-dup in pop order, document saves,
        fingerprint index, logs, metrics. parsed_rows are collected Rows
        keyed by url; pop_order is [(pop_idx, url)]."""
        by_url = {r.url: r for r in parsed_rows}
        docs_rows, fps_rows, log_rows = [], [], []
        near_dups = 0
        exact_dups = 0
        for pop_idx, url in pop_order:
            r = by_url[url]
            log_rows.append(
                (round_no, r.url, r.url_hash, r.domain, r.gate, r.checksum, r.doc_id)
            )
            if r.gate != "ok":
                continue
            if r.checksum in self._checksums:
                exact_dups += 1
            else:
                self._checksums.add(r.checksum)
            fps = frozenset(r.fps or [])
            # neardup='off' must really be off: with compute_sketches=False
            # every doc's fps is empty and jaccard(∅, ∅) = 1.0 — without
            # this guard the second doc onward would be flagged near-dup
            # and silently never saved
            is_near = self.cfg.neardup != "off" and any(
                jaccard(fps, other) >= NEAR_DUP_TAU
                for _, other in self._fps_index
            )
            self._fps_index.append((r.doc_id, fps))
            fps_rows.append(
                (r.doc_id, round_no, f"{pop_idx:08d}", list(r.fps or []),
                 list(r.bands or []))
            )
            if is_near:
                near_dups += 1
                continue  # skip save; outlinks already harvested (quirk §2.8.4)
            if r.doc_id in self._saved_doc_ids:
                continue  # one save per doc_id (scraper.py:41-44)
            self._saved_doc_ids.add(r.doc_id)
            docs_rows.append(
                (r.doc_id, r.domain, round_no, r.word_count,
                 [s.asDict() for s in (r.spans or [])])
            )
        def _dicts(schema_name: str, tuples: list[tuple]) -> list[dict]:
            names = [f.name for f in ARROW_SCHEMAS[schema_name]]
            return [dict(zip(names, t)) for t in tuples]

        if new_frontier_rows:
            self.store.append_rows(
                "frontier", _dicts("frontier", new_frontier_rows),
                ARROW_SCHEMAS["frontier"],
            )
            self.store.append_rows(
                "seen", [{"url_hash": r[0]} for r in new_frontier_rows],
                ARROW_SCHEMAS["seen"],
            )
        self.store.append_rows(
            "completions",
            [{"url_hash": by_url[u].url_hash, "round": round_no} for _, u in pop_order],
            ARROW_SCHEMAS["completions"],
        )
        if docs_rows:
            self.store.append_rows(
                "documents", _dicts("documents", docs_rows),
                ARROW_SCHEMAS["documents"],
            )
        if fps_rows:
            self.store.append_rows(
                "fingerprints", _dicts("fingerprints", fps_rows),
                ARROW_SCHEMAS["fingerprints"],
            )
        self.store.append_rows(
            "fetch_log", _dicts("fetch_log", log_rows), ARROW_SCHEMAS["fetch_log"]
        )
        return {
            "pops": len(pop_order),
            "parsed_ok": sum(1 for r in parsed_rows if r.gate == "ok"),
            "new_urls": len(new_frontier_rows),
            "docs_saved": len(docs_rows),
            "near_dups": near_dups,
            "exact_dups": exact_dups,
        }

    # ------------------------------------------------------------------
    # exact (parity) round
    # ------------------------------------------------------------------
    def _run_exact_round(self) -> bool:
        t0 = time.monotonic()
        round_no = self._round
        pending = self._pending_df()
        heads = politeness_heads(pending, 1, salted=True).select(
            "url", "url_hash", "domain", "slot", *DISCOVERY_ORDER
        )
        head_rows = heads.collect()
        if not head_rows:
            return False

        fetched: dict[str, object] = {}   # domain -> parsed Row
        new_hash_flags: dict[str, bool] = {}  # url_hash -> enqueue it?

        def fetch_wave(entries: list[tuple]) -> None:
            """entries: (url, url_hash, domain). Runs the Spark fetch+parse
            stage and records which candidate hashes are new: robots-
            allowed and absent from the seen set."""
            df = self.spark.createDataFrame(
                [(u, h, d, 1, round_no, "", 0) for (u, h, d) in entries],
                "url string, url_hash string, domain string, slot int, "
                "rk_round bigint, rk_pop string, rk_pos int",
            )
            parsed = self._fetch_and_parse(df)
            rows = parsed.collect()
            cands = sorted(
                {
                    (link.url_hash, link.url)
                    for r in rows
                    for link in (r.outlinks or [])
                    if link.url_hash not in new_hash_flags
                }
            )
            if cands:
                cand_df = self._robots_gate(self.spark.createDataFrame(
                    cands, "url_hash string, url string"
                ))
                fresh = {
                    r.url_hash
                    for r in cand_df.join(
                        self.store.read("seen"), "url_hash", "left_anti"
                    ).collect()
                }
                for h, _ in cands:
                    new_hash_flags[h] = h in fresh
            for r in rows:
                fetched[r.domain] = r

        fetch_wave([(r.url, r.url_hash, r.domain) for r in head_rows])

        # lexicographic drain with mid-round joiners (frontier.py heap at a
        # single virtual timestamp)
        ready: list[str] = sorted(fetched.keys())
        heapq.heapify(ready)
        joiner_heads: dict[str, tuple] = {}
        served: set[str] = set()
        round_new: set[str] = set()
        pop_order: list[tuple[int, str]] = []
        new_frontier_rows: list[tuple] = []
        parsed_rows: list = []
        pop_idx = 0
        while ready:
            if ready[0] not in fetched:
                fetch_wave(
                    [joiner_heads[d] for d in ready if d not in fetched]
                )
            domain = heapq.heappop(ready)
            row = fetched[domain]
            served.add(domain)
            parsed_rows.append(row)
            pop_order.append((pop_idx, row.url))
            for link in row.outlinks or []:
                h = link.url_hash
                if h in round_new or not new_hash_flags.get(h, False):
                    continue
                round_new.add(h)
                seq = self._next_seq.get(link.domain, 0) + 1
                self._next_seq[link.domain] = seq
                new_frontier_rows.append(
                    (h, link.url, link.domain, salt_of(h),
                     row.doc_id or row.url, round_no, f"{pop_idx:08d}",
                     link.pos, round_no, seq)
                )
                dom = link.domain
                if (
                    dom not in served
                    and dom not in joiner_heads
                    and not any(dom == d for d in ready)
                    and dom not in fetched
                ):
                    joiner_heads[dom] = (link.url, h, dom)
                    heapq.heappush(ready, dom)
            pop_idx += 1

        stats = self._append_round_outputs(
            round_no, parsed_rows, pop_order, new_frontier_rows
        )
        self._write_metrics(round_no, stats, time.monotonic() - t0)
        self._round += 1
        return True

    # ------------------------------------------------------------------
    # relaxed (scale) epoch
    # ------------------------------------------------------------------
    def _run_relaxed_epoch(self) -> bool:
        t0 = time.monotonic()
        base = self._round
        tokens = self.cfg.rounds_per_epoch
        # the epoch's one snapshot of the watermarks table: the dequeue
        # probes its served column, seq offsets join its enqueued column
        # and the closing merge advances it
        wm = self.store.read_or_none("watermarks")
        # every domain's window ends at served_d + tokens <= global max
        # served + tokens: a literal bound the scan can prune row groups
        # with (frontier deltas/bases are written seq-sorted — see the
        # store.append sort_by below and plans/dequeue.py). The max is
        # tracked as an O(1) monotone upper bound instead of scanning the
        # dim.
        dequeued = politeness_heads_indexed(
            self.store.read("frontier"),
            wm.select("domain", "served") if wm is not None else None,
            tokens,
            max_seq_bound=self._max_served_bound + tokens,
        )
        # the filter-only dequeue preserves the frontier's file layout —
        # without a rebalance the hot domain's slice would ride into ONE
        # fetch+parse task. Round-robin the small dequeued batch across the
        # executors; its cost is trivial next to the parse it feeds. In
        # wall-clock politeness mode the rebalance is BY DOMAIN instead:
        # the in-stage pacer's per-partition guarantee is only global when
        # a domain never spans partitions (and a paced hot domain is
        # serialized anyway, so clustering it costs nothing).
        parallelism = self.spark.sparkContext.defaultParallelism
        if self._pace:
            dequeued = dequeued.repartition(parallelism, "domain")
        else:
            dequeued = dequeued.repartition(parallelism)
        # the epoch's Bloom filter goes to the workers once; the parse stage
        # probes every outlink with it and ORs their bits into bloom_acc
        bloom = bloom_acc = None
        if self._bloom is not None:
            bloom = self.spark.sparkContext.broadcast(self._bloom)
            bloom_acc = self.spark.sparkContext.accumulator(None, OR_BITS)
        parsed = self._fetch_and_parse(
            dequeued, (bloom, bloom_acc) if bloom is not None else None
        )
        parsed.persist()
        # one global aggregate materializes the fetch+parse (filling the
        # Bloom accumulator) and brings only the pop and parsed-ok counts to
        # the driver; the watermark advance reads the persisted rows itself
        totals = parsed.agg(
            F.count("*"), F.count_if(F.col("gate") == "ok")
        ).collect()[0]
        pops, parsed_ok = int(totals[0]), int(totals[1])
        if bloom is not None:
            # every outlink passed through the stage in that job; the
            # increment may add keys beyond the URLs this epoch inserts
            # (robots-blocked links), which can only cost false positives
            if bloom_acc.value is not None:
                inc = BloomFilter(self._bloom.n_bits, self._bloom.k)
                inc.bits = bloom_acc.value
                self._bloom.merge_inplace(inc)
            # pyspark keeps every accumulator for the session's life; drop
            # this one's bitmap
            bloom_acc.value = None
        if pops == 0:
            parsed.unpersist()
            if bloom is not None:
                bloom.destroy()
            return False

        # candidate links in deterministic discovery order
        ok = parsed.where(F.col("gate") == "ok")
        cand = (
            ok.select(
                F.col("slot"),
                F.col("domain").alias("parent_domain"),
                F.coalesce(F.col("doc_id"), F.col("url")).alias("parent"),
                F.explode("outlinks").alias("link"),
            )
            .select(
                F.col("link.url_hash").alias("url_hash"),
                F.col("link.url").alias("url"),
                F.col("link.domain").alias("domain"),
                "slot", "parent_domain", "parent",
                F.col("link.pos").alias("pos"),
                F.col("link.maybe_seen").alias("maybe_seen"),
            )
        )
        # first-occurrence winner per url_hash via min_by on the discovery
        # key: a hash aggregation with map-side partial combine, so the
        # shuffle carries ~one row per distinct URL instead of every
        # duplicate discovery (out_degree-fold at 10^10 scale). A window
        # (row_number over url_hash) would shuffle all duplicates and sort
        # each partition with no combine.
        first_key = F.struct("slot", "parent_domain", "pos")

        def first_occurrences(links: DataFrame) -> DataFrame:
            return (
                links.groupBy("url_hash")
                .agg(
                    F.min_by(
                        F.struct("url", "domain", "slot", "parent_domain",
                                 "parent", "pos"),
                        first_key,
                    ).alias("_w")
                )
                .select("url_hash", "_w.*")
            )

        frontier_hashes = self.store.read("seen")
        if bloom is not None:
            # maybe_seen is a pure function of url_hash, so every discovery
            # of a URL lands on one side of the split, and each side's
            # aggregate shuffles only its own rows. False proves the URL
            # new; only the maybe-seen side probes the seen set. (Splitting
            # one aggregate's output instead makes Spark run that aggregate
            # twice: the two union branches do not share its exchange.)
            firsts = first_occurrences(
                cand.where(~F.col("maybe_seen"))
            ).unionByName(
                first_occurrences(cand.where(F.col("maybe_seen")))
                .join(frontier_hashes, "url_hash", "left_anti")
            )
        else:
            firsts = first_occurrences(cand).join(
                frontier_hashes, "url_hash", "left_anti"
            )
        # robots gate AFTER first-occurrence dedup and the seen probe, so it
        # evaluates each new URL once; it is a per-URL pure predicate like
        # the probe, so the order does not change the result
        new_links = self._robots_gate(firsts)

        new_rows = new_links.select(
            "url_hash", "url", "domain",
            salt_col(F.col("url_hash")).alias("salt"),
            "parent",
            (F.lit(base) + F.col("slot") - 1).cast("long").alias("rk_round"),
            F.col("parent_domain").alias("rk_pop"),
            F.col("pos").alias("rk_pos"),
            F.lit(base).cast("long").alias("epoch_added"),
        )
        # permanent per-domain FIFO position: rank within THIS batch (a
        # window over the epoch's new rows only — the full frontier is
        # never re-ranked) offset by the domain's enqueue counter. Valid
        # because rk_round is the epoch counter: every row of this batch
        # sorts after every previously inserted row of its domain.
        order = [F.col(c).asc() for c in DISCOVERY_ORDER]
        w_batch = Window.partitionBy("domain").orderBy(*order)
        new_rows = new_rows.withColumn("_brn", F.row_number().over(w_batch))
        if wm is not None:
            # no broadcast hint: at 10^7+ domains AQE picks the join side,
            # and the new-rows batch is the small side
            new_rows = new_rows.join(
                wm.select("domain", F.col("enqueued").alias("base_seq")),
                "domain", "left",
            )
        else:
            new_rows = new_rows.withColumn("base_seq", F.lit(0))
        new_rows = (
            new_rows.withColumn(
                "seq",
                (F.coalesce(F.col("base_seq"), F.lit(0)) + F.col("_brn"))
                .cast("bigint"),
            )
            .drop("_brn", "base_seq")
            .select(*[f.name for f in ARROW_SCHEMAS["frontier"]])
        )
        # documents + near-dup (lsh or off) — pop order key = (round, domain)
        docs = ok.select(
            "doc_id", "domain", "slot", "word_count", "spans", "fps", "bands",
            "checksum", (F.lit(base) + F.col("slot") - 1).cast("long").alias("ord_round"),
            F.col("domain").alias("ord_pop"),
        )
        # doc_id collisions happen only via redirects; detect them on a slim
        # projection (key-only shuffle) and window the heavy span rows only
        # when collisions actually exist
        dup_ids = (
            docs.groupBy("doc_id").count().where(F.col("count") > 1)
            .select("doc_id")
        ) if self.cfg.dedup_doc_ids else None

        def first_per_doc_id() -> DataFrame:
            if dup_ids is None or dup_ids.isEmpty():
                return docs
            doc_w = Window.partitionBy("doc_id").orderBy("ord_round", "ord_pop")
            dup_docs = docs.join(F.broadcast(dup_ids), "doc_id")
            winners = (
                dup_docs.withColumn("_rn", F.row_number().over(doc_w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            return docs.join(
                F.broadcast(dup_ids), "doc_id", "left_anti"
            ).unionByName(winners)

        # units (c) and (d) share one collision probe, run by whichever asks
        # first, so the probe job overlaps the other units too
        docs_first = _once(first_per_doc_id)
        # every snapshot the commit reads is taken here, before any unit
        # commits: the seen set (frontier_hashes above), watermarks (wm),
        # prior documents and prior fingerprints
        prior_docs = self.store.read_or_none("documents")
        prior_fps = (
            self.store.read_or_none("fingerprints")
            if self.cfg.neardup != "off" else None
        )
        observed_new = Observation()
        observed_near = Observation()
        observed_saved = Observation()

        def frontier_and_seen() -> DataFrame:
            # seq-sorted delta: keeps row-group min/max stats on seq tight
            # so the dequeue's max_seq_bound conjunct prunes at the parquet
            # scan
            self.store.append("frontier", new_rows, sort_by=["seq"])
            # the committed delta read-back is the cheap source for the seen
            # append AND the enqueue-counter advance (avoids recomputing the
            # candidate pipeline). new_urls is
            # observed here, not on the frontier append: the sort's
            # range-partition sampling job re-runs that plan and would
            # count every row twice
            delta = self.store.read_last_delta("frontier")
            self.store.append("seen", delta.select("url_hash").observe(
                observed_new, F.count(F.lit(1)).alias("n")
            ))
            return delta

        def completions() -> None:
            self.store.append(
                "completions",
                parsed.select(
                    "url_hash",
                    (F.lit(base) + F.col("slot") - 1).cast("long").alias("round"),
                ),
            )

        def documents() -> None:
            near_df = self._flag_near_dups_lsh(docs_first(), prior_fps).observe(
                observed_near, F.count_if("is_near_dup").alias("n")
            )
            to_save = near_df.where(~F.col("is_near_dup"))
            if prior_docs is not None:
                to_save = to_save.join(
                    prior_docs.select("doc_id"), "doc_id", "left_anti"
                )
            self.store.append("documents", to_save.select(
                "doc_id", "domain", F.col("ord_round").alias("round"),
                "word_count", "spans",
            ).observe(observed_saved, F.count(F.lit(1)).alias("n")))

        def fingerprints() -> None:
            if self.cfg.neardup != "off":
                self.store.append("fingerprints", docs_first().select(
                    "doc_id", "ord_round", "ord_pop", "fps", "bands"
                ))

        def fetch_log() -> None:
            self.store.append(
                "fetch_log",
                parsed.select(
                    (F.lit(base) + F.col("slot") - 1).cast("long").alias("round"),
                    "url", "url_hash", "domain", "gate", "checksum", "doc_id",
                ),
            )

        # None of the five units reads another's output, so Spark runs their
        # jobs side by side. A crash can therefore leave ANY subset of them
        # committed (not just a prefix of one order); the replayed epoch
        # stays idempotent per table:
        # * frontier, seen: unit (a) keeps frontier before seen, and
        #   _resume's backfill mirrors an orphan frontier delta into seen;
        #   the replay's seen anti-join then inserts nothing twice;
        # * documents: the prior-docs anti-join above;
        # * completions, fetch_log: rows are re-appended, and summary()
        #   reads completions through distinct();
        # * fingerprints: re-appended rows never flag their own doc, since
        #   the LSH join matches only a strictly earlier (ord_round, ord_pop)
        #   and the replay keeps the epoch's rounds (_resume reads them from
        #   the watermarks commit, not from completions that may have
        #   outlived the crash).
        units = (frontier_and_seen, completions, documents, fingerprints,
                 fetch_log)
        with ThreadPoolExecutor(max_workers=len(units)) as pool:
            futures = [pool.submit(unit) for unit in units]
        # every unit has finished; re-raise the first failure before the
        # commit point
        delta = futures[0].result()
        for future in futures[1:]:
            future.result()
        # advance the per-domain served watermarks last: a crash earlier in
        # the epoch leaves the persisted snapshot untouched, so resume
        # replays the whole epoch (at-least-once fetch). Distributed merge
        # of the old dim with this epoch's raw rows — one served-add per pop,
        # one enqueue candidate per new frontier row — compacted as the new
        # snapshot. O(domains) stays on the executors; the driver advances
        # only its O(1) served upper bound.
        self.store.compact(
            "watermarks",
            self._merged_watermarks(
                wm,
                parsed.select("domain", F.lit(1).alias("_add")),
                delta.select("domain", F.col("seq").alias("_dmax")),
            ),
            properties={"next_round": base + tokens},
        )
        self._max_served_bound += tokens
        parsed.unpersist()
        if bloom is not None:
            bloom.destroy()
        stats = {
            "pops": pops,
            "parsed_ok": parsed_ok,
            "new_urls": observed_new.get["n"],
            "docs_saved": observed_saved.get["n"],
            "near_dups": observed_near.get["n"],
            "exact_dups": 0,  # metric-only quirk; see exact mode
        }
        self._write_metrics(base, stats, time.monotonic() - t0)
        self._round = base + tokens
        return True

    def _flag_near_dups_lsh(
        self, docs_first: DataFrame, prior: DataFrame | None
    ) -> DataFrame:
        """Banded MinHash candidate join + exact-Jaccard verification
        against this epoch's docs and ``prior`` (the fingerprints snapshot,
        or None). 'Previously seen' = earlier (ord_round, ord_pop) or a
        prior-epoch doc (SURVEY §2.4 epoch-ordering convention)."""
        if self.cfg.neardup == "off":
            return docs_first.withColumn("is_near_dup", F.lit(False))
        left = docs_first.select(
            "doc_id", "ord_round", "ord_pop", "fps",
            F.posexplode("bands").alias("band_idx", "band_val"),
        )
        right_batch = docs_first.select(
            F.col("doc_id").alias("o_doc_id"),
            F.col("ord_round").alias("o_round"),
            F.col("ord_pop").alias("o_pop"),
            F.col("fps").alias("o_fps"),
            F.posexplode("bands").alias("band_idx", "band_val"),
        )
        if prior is not None:
            right_prior = prior.select(
                F.col("doc_id").alias("o_doc_id"),
                F.col("ord_round").alias("o_round"),
                F.col("ord_pop").alias("o_pop"),
                F.col("fps").alias("o_fps"),
                F.posexplode("bands").alias("band_idx", "band_val"),
            )
            right = right_batch.unionByName(right_prior)
        else:
            right = right_batch
        pairs = (
            left.join(right, ["band_idx", "band_val"])
            .where(
                (F.col("o_round") < F.col("ord_round"))
                | (
                    (F.col("o_round") == F.col("ord_round"))
                    & (F.col("o_pop") < F.col("ord_pop"))
                )
            )
            .select("doc_id", "fps", "o_doc_id", "o_fps")
            .dropDuplicates(["doc_id", "o_doc_id"])
        )
        sim = F.when(
            (F.size("fps") == 0) & (F.size("o_fps") == 0), F.lit(1.0)
        ).otherwise(
            F.size(F.array_intersect("fps", "o_fps"))
            / F.size(F.array_union("fps", "o_fps"))
        )
        hits = (
            pairs.withColumn("_sim", sim)
            .where(F.col("_sim") >= F.lit(NEAR_DUP_TAU))
            .select("doc_id")
            .distinct()
            .withColumn("is_near_dup", F.lit(True))
        )
        return docs_first.join(hits, "doc_id", "left").withColumn(
            "is_near_dup", F.coalesce(F.col("is_near_dup"), F.lit(False))
        )

    # ------------------------------------------------------------------
    def _write_metrics(self, round_no: int, stats: dict, wall_s: float) -> None:
        self.store.append_rows(
            "metrics",
            [{
                "round": round_no, "pops": stats["pops"],
                "parsed_ok": stats["parsed_ok"], "new_urls": stats["new_urls"],
                "docs_saved": stats["docs_saved"],
                "near_dups": stats["near_dups"],
                "exact_dups": stats["exact_dups"], "wall_s": wall_s,
            }],
            ARROW_SCHEMAS["metrics"],
        )

    def run(self, max_rounds: int | None = None) -> dict:
        """Crawl to fixpoint (or max_rounds). Returns summary stats."""
        rounds = 0
        while max_rounds is None or rounds < max_rounds:
            if self.cfg.ordering == "exact":
                progressed = self._run_exact_round()
            else:
                progressed = self._run_relaxed_epoch()
            if not progressed:
                break
            rounds += 1
            if self.cfg.compact_every and rounds % self.cfg.compact_every == 0:
                # bound manifest fan-in for the append-heavy state tables
                # (≙ Iceberg table compaction). The frontier gets a full
                # rewrite because the point is to DROP its served prefix;
                # every other table gets the tiered tail merge — per-epoch
                # read fan-in stays O(log epochs) and total rewrite I/O
                # O(n log n), where full rewrites would be O(n^2) over a
                # long crawl (fingerprints + documents are re-read every
                # epoch; this closes SURVEY §2.9b).
                if self.cfg.ordering == "relaxed":
                    self._compact_frontier_drop_served()
                else:
                    if self.store.exists("frontier"):
                        self.store.compact("frontier", sort_by=["seq"])
                for table in (
                    "seen", "completions", "fingerprints", "documents",
                    "fetch_log", "metrics",
                ):
                    if self.store.exists(table):
                        self.store.compact_tail(table)
                self._maybe_rebuild_bloom()
        return self.summary()

    def _maybe_rebuild_bloom(self) -> None:
        """Fill-rate-triggered prefilter rebuild (SURVEY §2.9c): the Bloom
        shape is sized at resume, and a seen set grown far past that sizing
        saturates the filter — still correct (advisory-only), but every
        probe degrades to the anti-join. At compaction points, if the fill
        rate passed the 0.6 design ceiling (optimal is 0.5 at design load),
        rebuild from the seen table at 2x the current cardinality so
        rebuilds stay geometric — O(n) work per doubling, amortized O(1)
        per inserted URL."""
        if self._bloom is None or self._bloom.fill_rate() <= 0.6:
            return
        seen = self.store.read_or_none("seen")
        if seen is None:
            return
        self._bloom = BloomFilter.build_from_df(
            seen, "url_hash", max(2 * seen.count(), 1024)
        )

    def _compact_frontier_drop_served(self) -> None:
        """Relaxed-mode frontier compaction: rewrite the table without its
        served prefix, so frontier scans never reread completed rows (the
        seen table, not the frontier, carries the all-time URL-seen
        membership). seq is ABSOLUTE — the watermarks are untouched and the
        filter `seq > served` stays correct whether or not this rewrite
        lands, so a crash at any point between manifest swaps is safe by
        construction (the round-1 version re-ranked positionally and had a
        lost-rows crash window here; the permanent-seq design removes the
        ordering constraint entirely)."""
        if not self.store.exists("frontier"):
            return
        wm = self.store.read_or_none("watermarks")
        if wm is None:
            self.store.compact("frontier")
            return
        frontier = self.store.read("frontier")
        remaining = (
            frontier.join(wm.select("domain", "served"), "domain", "left")
            .where(F.col("seq") > F.coalesce(F.col("served"), F.lit(0)))
            .drop("served")
        )
        self.store.compact("frontier", remaining, sort_by=["seq"])

    def summary(self) -> dict:
        seen = self.store.read_or_none("seen")
        docs = self.store.read_or_none("documents")
        comp = self.store.read_or_none("completions")
        return {
            "rounds": self._round,
            "urls_seen": seen.count() if seen is not None else 0,
            "urls_done": comp.select("url_hash").distinct().count()
            if comp is not None else 0,
            "docs_saved": docs.count() if docs is not None else 0,
        }
