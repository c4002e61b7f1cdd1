"""Crash-resume: stop after k rounds, rebuild the engine from snapshots,
finish, and compare against an uninterrupted run (reference resume
semantics, crawler/frontier.py:48-59)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from spacetime_crawler4py_spark.sources.store import SnapshotStore
from spacetime_crawler4py_spark.sources.webgen import generate_web
from spacetime_crawler4py_spark.streaming.epochs import CrawlEngine, EngineConfig

WEB_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("final_url", StringType()),
        StructField("content_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("domain", StringType()),
    ]
)


@pytest.fixture(scope="module")
def web():
    return generate_web(n_pages=40, seed=7)


@pytest.fixture(scope="module")
def web_df(spark, web):
    return spark.createDataFrame(web.to_rows(), WEB_SCHEMA)


def _state(store: SnapshotStore):
    frontier = {
        (r.url_hash, r.url, r.domain, r.rk_round, r.rk_pop, r.rk_pos)
        for r in store.read("frontier").collect()
    }
    docs = {d.doc_id for d in store.read("documents").collect()}
    done = {(r.url_hash, r.round) for r in store.read("completions").collect()}
    return frontier, docs, done


def test_exact_resume_equals_uninterrupted(spark, web, web_df, tmp_path):
    cfg = dict(ordering="exact", neardup="exact")
    # uninterrupted
    store_a = SnapshotStore(spark, str(tmp_path / "a"))
    eng_a = CrawlEngine(spark, store_a, web_df, EngineConfig(**cfg))
    eng_a.seed(web.seeds)
    eng_a.run()
    # interrupted after 3 rounds, resumed by a *fresh* engine instance
    store_b = SnapshotStore(spark, str(tmp_path / "b"))
    eng_b1 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    eng_b1.seed(web.seeds)
    eng_b1.run(max_rounds=3)
    del eng_b1
    eng_b2 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    assert eng_b2._round == 3  # resumed round counter from snapshots
    eng_b2.run()
    assert _state(store_a) == _state(store_b)


def test_relaxed_resume_equals_uninterrupted(spark, web, web_df, tmp_path):
    """Relaxed-mode crash-resume converges to the uninterrupted end state
    AND never mirrors the documents/fetch_log universe onto the driver
    (the exact parity mode is the only consumer of those sets; a
    10^10-doc relaxed resume must not collect them)."""
    cfg = dict(ordering="relaxed", neardup="lsh", rounds_per_epoch=2,
               use_bloom=True)
    store_a = SnapshotStore(spark, str(tmp_path / "ra"))
    eng_a = CrawlEngine(spark, store_a, web_df, EngineConfig(**cfg))
    eng_a.seed(web.seeds)
    eng_a.run()
    store_b = SnapshotStore(spark, str(tmp_path / "rb"))
    eng_b1 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    eng_b1.seed(web.seeds)
    eng_b1.run(max_rounds=2)
    del eng_b1
    eng_b2 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    # the driver mirrors must stay empty in relaxed mode even though the
    # store already holds documents and fetch_log snapshots
    assert store_b.exists("documents") and store_b.exists("fetch_log")
    assert eng_b2._saved_doc_ids == set() and eng_b2._checksums == set()
    eng_b2.run()

    def _sets(store):
        return (
            {d.doc_id for d in store.read("documents").collect()},
            {r.url_hash for r in store.read("seen").collect()},
        )

    assert _sets(store_a) == _sets(store_b)


def test_relaxed_compaction_resume(spark, web, web_df, tmp_path):
    """Frontier compaction drops the served prefix while seq stays
    absolute: an interrupted run that compacted every epoch must resume
    to the same end state as an uninterrupted, never-compacting run —
    and the compacted frontier must actually shrink (served rows gone)
    without touching the watermarks."""
    base_cfg = dict(ordering="relaxed", neardup="lsh", rounds_per_epoch=2,
                    use_bloom=True)
    store_a = SnapshotStore(spark, str(tmp_path / "ca"))
    eng_a = CrawlEngine(spark, store_a, web_df, EngineConfig(**base_cfg))
    eng_a.seed(web.seeds)
    eng_a.run()

    store_b = SnapshotStore(spark, str(tmp_path / "cb"))
    eng_b1 = CrawlEngine(
        spark, store_b, web_df, EngineConfig(**base_cfg, compact_every=1)
    )
    eng_b1.seed(web.seeds)
    eng_b1.run(max_rounds=2)
    n_frontier_rows = store_b.read("frontier").count()
    n_seen = store_b.read("seen").count()
    # the served prefix was dropped; the seen table keeps full membership
    assert n_frontier_rows < n_seen
    wm = {r.domain: r.served for r in store_b.read("watermarks").collect()}
    assert any(v > 0 for v in wm.values())  # watermarks NOT rebased
    del eng_b1
    eng_b2 = CrawlEngine(
        spark, store_b, web_df, EngineConfig(**base_cfg, compact_every=1)
    )
    eng_b2.run()

    def _sets(store):
        return (
            {d.doc_id for d in store.read("documents").collect()},
            {r.url_hash for r in store.read("seen").collect()},
        )

    assert _sets(store_a) == _sets(store_b)


def test_resume_with_stale_watermark_snapshot(spark, web, web_df, tmp_path):
    """Crash window between the frontier append (commits new seq values)
    and the watermark merge (persists the enqueued counters): a resume
    must max-merge the stale snapshot with the frontier's actual per-domain
    max(seq) — otherwise duplicate seq numbers get assigned and the served
    watermark silently skips rows (ADVICE r2, medium).

    neardup is OFF here on purpose: the served-watermark rollback makes the
    resumed run replay one epoch, which merges two politeness quanta into
    one and shifts later discovery rounds for already-established domains —
    the URL-seen set and per-domain FIFO discipline are unaffected (asserted
    below), but the 'earlier doc' relation inside a near-dup pair can flip,
    legitimately keeping the other representative. With neardup off the
    at-least-once replay is exactly idempotent and the full end state must
    match the uninterrupted run."""
    import shutil

    cfg = dict(ordering="relaxed", neardup="off", rounds_per_epoch=2)
    store_a = SnapshotStore(spark, str(tmp_path / "wa"))
    eng_a = CrawlEngine(spark, store_a, web_df, EngineConfig(**cfg))
    eng_a.seed(web.seeds)
    eng_a.run()

    store_b = SnapshotStore(spark, str(tmp_path / "wb"))
    eng_b = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    eng_b.seed(web.seeds)
    eng_b.run(max_rounds=1)
    v_stale = store_b.current_version("watermarks")
    eng_b.run(max_rounds=1)
    del eng_b
    # simulate the crash: frontier has epoch-2's rows committed, but the
    # watermark snapshot is rolled back to its epoch-1 state
    shutil.copyfile(
        store_b._manifest_path("watermarks", v_stale),
        store_b._manifest_path("watermarks"),
    )

    eng_b2 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    # the resume merge must have lifted the persisted enqueue counters to
    # the frontier's reality, not kept the stale snapshot
    from pyspark.sql import functions as F

    enqueued = {
        r.domain: int(r.enqueued)
        for r in store_b.read("watermarks").collect()
    }
    actual_max = {
        r.domain: int(r.m)
        for r in store_b.read("frontier")
        .groupBy("domain").agg(F.max("seq").alias("m")).collect()
    }
    for dom, m in actual_max.items():
        assert enqueued.get(dom, 0) >= m, (dom, m, enqueued.get(dom))
    eng_b2.run()

    # no domain ever carries a duplicated politeness slot
    dup_slots = (
        store_b.read("frontier").groupBy("domain", "seq").count()
        .where("count > 1").count()
    )
    assert dup_slots == 0

    def _sets(store):
        return (
            {d.doc_id for d in store.read("documents").collect()},
            {r.url_hash for r in store.read("seen").collect()},
        )

    assert _sets(store_a) == _sets(store_b)


def test_snapshot_time_travel(spark, web, web_df, tmp_path):
    """Older manifest versions stay readable (Iceberg-snapshot semantics)."""
    store = SnapshotStore(spark, str(tmp_path / "tt"))
    eng = CrawlEngine(spark, store, web_df, EngineConfig(ordering="exact"))
    eng.seed(web.seeds)
    eng.run(max_rounds=2)
    v1 = store.current_version("frontier")
    n1 = store.read("frontier").count()
    eng.run(max_rounds=2)
    n2 = store.read("frontier").count()
    assert n2 >= n1
    assert store.read("frontier", version=v1).count() == n1
