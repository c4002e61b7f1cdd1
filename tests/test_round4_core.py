"""Round-4 crawl-core hardening (SURVEY §2.9 known limits):

(a) frontier↔seen crash window — a crash between the epoch's frontier
    append and its seen append must not re-insert the delta's URLs as
    duplicate frontier rows on resume (fix: resume-time seen backfill
    from the last frontier delta);
(b) tiered compaction — fingerprints/documents/fetch_log read fan-in
    stays O(log epochs) instead of O(epochs);
(c) Bloom saturation — a fill-rate-triggered rebuild restores a bounded
    false-positive rate after the seen set outgrows the resume sizing.
"""

from __future__ import annotations

import shutil
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from spacetime_crawler4py_spark.functions.bloom import BloomFilter
from spacetime_crawler4py_spark.sources.store import SnapshotStore
from spacetime_crawler4py_spark.sources.webgen import generate_web
from spacetime_crawler4py_spark.streaming.epochs import (
    CrawlEngine,
    EngineConfig,
    _once,
)

WEB_SCHEMA = (
    "url string, status int, final_url string, content_type string, "
    "payload binary, domain string"
)


@pytest.fixture(scope="module")
def web():
    return generate_web(n_pages=40, seed=7)


@pytest.fixture(scope="module")
def web_df(spark, web):
    return spark.createDataFrame(web.to_rows(), WEB_SCHEMA)


def _sets(store):
    return (
        {d.doc_id for d in store.read("documents").collect()},
        {r.url_hash for r in store.read("seen").collect()},
    )


# ---------------------------------------------------------------------------
# (a) frontier↔seen crash window
# ---------------------------------------------------------------------------
# The relaxed epoch commits five units concurrently: (a) frontier then
# seen, (b) completions, (c) documents, (d) fingerprints, (e) fetch_log;
# the watermarks compact follows them all. A crash can leave any subset
# committed. Each case keeps the named tables' epoch-2 commits and rolls
# every other table back; case a keeps only the frontier half of unit (a).
# Case bd runs near-dup detection: with completions surviving, a replay
# that moved to later round numbers would find each doc's own committed
# fingerprint "earlier" and drop the doc as its own near-dup.
CRASH_CASES = {
    "a": (("frontier",), "off"),
    "b": (("completions",), "off"),
    "c": (("documents",), "off"),
    "e": (("fetch_log",), "off"),
    "bd": (("completions", "fingerprints"), "lsh"),
}


@pytest.mark.parametrize("unit", list(CRASH_CASES))
def test_seen_backfill_after_frontier_seen_crash(
    spark, web, web_df, tmp_path, unit
):
    """Simulate a crash in epoch 2's commit phase that leaves some
    tables' appends committed: every OTHER table's manifest is rolled back
    to its pre-epoch version. The resumed run must (1) not duplicate any
    url_hash in the frontier, (2) keep the URL-seen set and saved
    documents identical to an uninterrupted run, (3) keep per-domain
    politeness slots unique."""
    survivors, neardup = CRASH_CASES[unit]
    cfg = dict(ordering="relaxed", neardup=neardup, rounds_per_epoch=2)
    store_a = SnapshotStore(spark, str(tmp_path / "ua"))
    eng_a = CrawlEngine(spark, store_a, web_df, EngineConfig(**cfg))
    eng_a.seed(web.seeds)
    eng_a.run()

    store_b = SnapshotStore(spark, str(tmp_path / "ub"))
    eng_b = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    eng_b.seed(web.seeds)
    eng_b.run(max_rounds=1)
    # versions after epoch 1 = the state the crash leaves for every table
    # except the surviving ones
    tables = ("frontier", "seen", "completions", "documents", "fingerprints",
              "fetch_log", "watermarks", "metrics")
    stale = {
        t: store_b.current_version(t)
        for t in tables
        if t not in survivors and store_b.current_version(t)
    }
    eng_b.run(max_rounds=1)
    del eng_b
    for t, v in stale.items():
        shutil.copyfile(
            store_b._manifest_path(t, v), store_b._manifest_path(t)
        )

    eng_b2 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    # the backfill must have mirrored the orphan frontier delta into seen
    # BEFORE any epoch runs
    n_frontier = store_b.read("frontier").select("url_hash").distinct().count()
    n_seen = store_b.read("seen").select("url_hash").distinct().count()
    assert n_seen >= n_frontier
    eng_b2.run()

    dup_hashes = (
        store_b.read("frontier").groupBy("url_hash").count()
        .where("count > 1").count()
    )
    assert dup_hashes == 0, "crash replay re-inserted frontier rows"
    dup_slots = (
        store_b.read("frontier").groupBy("domain", "seq").count()
        .where("count > 1").count()
    )
    assert dup_slots == 0
    assert _sets(store_a) == _sets(store_b)


def test_once_runs_its_function_once_across_threads():
    """The commit units that share the doc_id collision probe get one
    evaluation between them, however their threads interleave."""
    calls = []

    def probe():
        calls.append(1)
        time.sleep(0.01)  # widen the check-then-act window
        return object()

    get = _once(probe)
    results = []
    threads = [
        threading.Thread(target=lambda: results.append(get()))
        for _ in range(16)
    ]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(results) == 16 and all(r is results[0] for r in results)


def test_seed_crash_between_frontier_and_seen(spark, web, web_df, tmp_path):
    """seed() has the same window (frontier rows committed, seen append
    lost). A fresh engine must backfill and not re-seed duplicates."""
    cfg = dict(ordering="relaxed", neardup="off")
    store = SnapshotStore(spark, str(tmp_path / "seedcrash"))
    eng = CrawlEngine(spark, store, web_df, EngineConfig(**cfg))
    eng.seed(web.seeds)
    # drop the seen table's manifest entirely — harsher than a rollback
    v0 = 0
    shutil.rmtree(store._tdir("seen"))
    del eng

    eng2 = CrawlEngine(spark, store, web_df, EngineConfig(**cfg))
    eng2.seed(web.seeds)  # idempotent re-seed must insert nothing new
    frontier = store.read("frontier")
    assert frontier.count() == len(web.seeds)
    assert (
        frontier.groupBy("url_hash").count().where("count > 1").count() == 0
    )
    seen = {r.url_hash for r in store.read("seen").collect()}
    assert seen == {r.url_hash for r in frontier.collect()}
    del v0


# ---------------------------------------------------------------------------
# (b) tiered compaction
# ---------------------------------------------------------------------------
def test_compact_tail_bounds_fanin_and_preserves_rows(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "tier"))
    total = 0
    for i in range(24):
        store.append("t", spark.range(i * 10, i * 10 + 10).toDF("id"))
        total += 10
        store.compact_tail("t")
        n_paths = len(store._load_manifest("t")["paths"])
        assert n_paths <= 6, f"fan-in {n_paths} after {i + 1} appends"
    got = sorted(r.id for r in store.read("t").collect())
    assert got == list(range(total))


def test_compact_tail_respects_large_base(spark, tmp_path):
    """A big base more than ratio x the delta tail must NOT be rewritten —
    that is the whole point (full rewrites are O(n^2) over a crawl)."""
    store = SnapshotStore(spark, str(tmp_path / "tier2"))
    store.append("t", spark.range(0, 20_000).toDF("id"))
    base_path = store._load_manifest("t")["paths"][0]
    for i in range(3):
        store.append("t", spark.range(20_000 + i, 20_001 + i).toDF("id"))
    store.compact_tail("t")
    paths = store._load_manifest("t")["paths"]
    assert paths[0] == base_path, "tiered merge rewrote the large base"
    assert len(paths) == 2  # base + merged tail
    assert store.read("t").count() == 20_003


def test_engine_compaction_bounds_state_table_fanin(spark, web, web_df, tmp_path):
    """With compact_every=1, the per-epoch re-read tables must keep their
    manifest fan-in sublinear in epochs (SURVEY §2.9b: previously
    fingerprints/documents/fetch_log were never compacted at all)."""
    cfg = EngineConfig(
        ordering="relaxed", neardup="lsh", rounds_per_epoch=1,
        compact_every=1,
    )
    store = SnapshotStore(spark, str(tmp_path / "engtier"))
    eng = CrawlEngine(spark, store, web_df, cfg)
    eng.seed(web.seeds)
    eng.run(max_rounds=8)
    for t in ("fingerprints", "documents", "fetch_log", "seen", "completions"):
        if not store.exists(t):
            continue
        n_paths = len(store._load_manifest(t)["paths"])
        assert n_paths <= 5, f"{t} fan-in {n_paths} after 8 epochs"


# ---------------------------------------------------------------------------
# (c) Bloom saturation rebuild
# ---------------------------------------------------------------------------
def test_fill_rate():
    bf = BloomFilter(1024, 7)
    assert bf.fill_rate() == 0.0
    bf.bits[:] = 0xFF
    assert bf.fill_rate() == 1.0


def test_bloom_rebuild_restores_fpr(spark, web, web_df, tmp_path):
    """Grow the seen set ~100x past the prefilter's sizing: the saturated
    filter keeps correctness (no false negatives — asserted) but its
    false-positive rate collapses to ~1. _maybe_rebuild_bloom must detect
    the fill rate and rebuild with geometric headroom so the fp rate is
    bounded again."""
    store = SnapshotStore(spark, str(tmp_path / "bloomgrow"))
    eng = CrawlEngine(
        spark, store, web_df,
        EngineConfig(ordering="relaxed", neardup="off", use_bloom=True),
    )
    eng.seed(web.seeds)
    eng.run(max_rounds=1)
    # simulate the 100x growth: a filter sized for ~64 keys now carrying
    # the full seen set plus 6,000 synthetic inserts
    small = BloomFilter.sized_for(64)
    seen_hashes = [r.url_hash for r in store.read("seen").collect()]
    small.add_many(seen_hashes)
    import hashlib

    extra = [
        hashlib.sha256(f"grown:{i}".encode()).hexdigest() for i in range(6000)
    ]
    small.add_many(extra)
    store.append("seen", spark.createDataFrame(
        [(h,) for h in extra], "url_hash string"
    ))
    eng._bloom = small
    assert small.fill_rate() > 0.6

    eng._maybe_rebuild_bloom()
    big = eng._bloom
    assert big is not small and big.n_bits > small.n_bits
    assert big.fill_rate() < 0.5
    # no false negatives: every seen key still probes True
    probe, _ = big.probe_and_mark(seen_hashes + extra)
    assert bool(probe.all())
    # bounded false positives: disjoint probe keys
    fresh = [
        hashlib.sha256(f"fresh:{i}".encode()).hexdigest() for i in range(5000)
    ]
    fpr = float(big.probe_and_mark(fresh)[0].mean())
    assert fpr < 0.05, f"false-positive rate {fpr} after rebuild"
