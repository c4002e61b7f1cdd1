"""Golden end-to-end crawl: the Spark engine must reproduce the oracle's
URL-seen set, per-domain crawl ordering, global pop order, saved-document
set, and span sequences (north_rule parity targets)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from spacetime_crawler4py_spark.functions.bloom import BloomFilter
from spacetime_crawler4py_spark.oracle.pycrawler import OracleCrawler
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

N_PAGES = 60  # small graph -> a full exact-mode crawl stays fast


@pytest.fixture(scope="module")
def web():
    return generate_web(n_pages=N_PAGES, seed=42)


@pytest.fixture(scope="module")
def oracle_result(web):
    return OracleCrawler(web).run()


@pytest.fixture(scope="module")
def web_df(spark, web):
    return spark.createDataFrame(web.to_rows(), WEB_SCHEMA)


def _run_engine(spark, web, web_df, tmpdir, **cfg_kwargs):
    store = SnapshotStore(spark, str(tmpdir))
    engine = CrawlEngine(
        spark, store, web_df, EngineConfig(**cfg_kwargs)
    )
    engine.seed(web.seeds)
    engine.run()
    return store, engine


@pytest.fixture(scope="module")
def exact_run(spark, web, web_df, tmp_path_factory):
    return _run_engine(
        spark, web, web_df, tmp_path_factory.mktemp("exact"),
        ordering="exact", neardup="exact",
    )


def test_url_seen_set_matches_oracle(exact_run, oracle_result):
    store, _ = exact_run
    engine_seen = {
        r.url_hash: r.url for r in store.read("frontier").collect()
    }
    assert engine_seen == oracle_result.seen


def test_global_pop_order_matches_oracle(exact_run, oracle_result):
    store, _ = exact_run
    log = store.read("fetch_log").orderBy("round", "url").collect()
    # reconstruct engine pop order from completions round + fetch_log order?
    # fetch_log is appended per round in pop order but parquet does not
    # guarantee row order -> use the fingerprints ord key for ok pages and
    # compare per-domain order below; here compare the *set* per round.
    oracle_rounds = {}
    for idx, t, domain, url in oracle_result.crawl_order:
        oracle_rounds.setdefault(round(t / 0.5), set()).add(url)
    engine_rounds = {}
    comp = store.read("completions").collect()
    frontier = {r.url_hash: r.url for r in store.read("frontier").collect()}
    for r in comp:
        engine_rounds.setdefault(r.round, set()).add(frontier[r.url_hash])
    assert engine_rounds == {int(k): v for k, v in oracle_rounds.items()}


def test_per_domain_order_matches_oracle(exact_run, oracle_result):
    store, _ = exact_run
    # per-domain dequeue order == FIFO discovery order == rk sort
    frontier = store.read("frontier").collect()
    per_domain: dict[str, list[str]] = {}
    for r in sorted(frontier, key=lambda r: (r.rk_round, r.rk_pop, r.rk_pos)):
        per_domain.setdefault(r.domain, []).append(r.url)
    oracle_pd = oracle_result.per_domain_order()
    # engine frontier contains every seen URL; oracle crawl_order contains
    # only dequeued ones — every pending URL was dequeued at fixpoint
    assert per_domain == oracle_pd


def test_saved_documents_match_oracle(exact_run, oracle_result):
    store, _ = exact_run
    docs = store.read("documents").collect()
    assert {d.doc_id for d in docs} == set(oracle_result.documents)


def test_span_sequences_match_oracle(exact_run, oracle_result):
    store, _ = exact_run
    docs = {d.doc_id: d.spans for d in store.read("documents").collect()}
    for doc_id, expected in oracle_result.documents.items():
        got = [(s.kind, s.text, s.media_ref) for s in docs[doc_id]]
        assert got == expected, doc_id
        offsets = [s.offset for s in docs[doc_id]]
        assert offsets == list(range(len(offsets))), doc_id


def test_relaxed_mode_matches_seen_set(
    spark, web, web_df, oracle_result, tmp_path_factory
):
    """Relaxed (scale) ordering defers mid-round joiners one epoch but must
    still converge to the identical URL-seen set and saved docs."""
    store, _ = _run_engine(
        spark, web, web_df, tmp_path_factory.mktemp("relaxed"),
        ordering="relaxed", neardup="lsh", rounds_per_epoch=4, use_bloom=True,
    )
    engine_seen = {r.url_hash: r.url for r in store.read("frontier").collect()}
    assert set(engine_seen) == set(oracle_result.seen)
    # first-seen URL strings can differ only for scheme-folded twins
    diffs = {
        h: (u, oracle_result.seen[h])
        for h, u in engine_seen.items()
        if u != oracle_result.seen[h]
    }
    for h, (ours, theirs) in diffs.items():
        assert ours.split("://", 1)[1] == theirs.split("://", 1)[1], diffs
    docs = {d.doc_id for d in store.read("documents").collect()}
    # relaxed ordering may pick the *other* member of a near-dup class to
    # save (epoch-boundary order deviation); anything outside near-dup
    # classes must match exactly
    oracle_docs = set(oracle_result.documents)
    near_dup_class = {d for pair in oracle_result.near_dup_skips for d in pair}
    assert docs.symmetric_difference(oracle_docs) <= near_dup_class
    assert len(docs) == len(oracle_docs)


def test_politeness_budget_property(exact_run):
    """No domain is served more than once per round (>= 0.5 s/domain)."""
    store, _ = exact_run
    comp = store.read("completions").collect()
    frontier = {r.url_hash: r.domain for r in store.read("frontier").collect()}
    seen_pairs = set()
    for r in comp:
        key = (frontier[r.url_hash], r.round)
        assert key not in seen_pairs, key
        seen_pairs.add(key)


def test_monotone_seen_no_revisits(exact_run):
    store, _ = exact_run
    frontier = store.read("frontier").collect()
    hashes = [r.url_hash for r in frontier]
    assert len(hashes) == len(set(hashes))  # one insert per hash, ever
    comp = store.read("completions").collect()
    done = [r.url_hash for r in comp]
    assert len(done) == len(set(done))  # fetched at most once


def test_exact_mode_neardup_off_saves_documents(spark, web, web_df, tmp_path_factory):
    """neardup='off' in exact ordering must actually be off: with sketches
    disabled every doc's fingerprint set is empty and jaccard(∅,∅)=1, so
    an unguarded near-dup probe would flag every doc after the first and
    save exactly one document."""
    store, engine = _run_engine(
        spark, web, web_df, tmp_path_factory.mktemp("exact_off"),
        ordering="exact", neardup="off",
    )
    n_docs = store.read("documents").count()
    assert n_docs > 1
    # near-dup-off must save at least as many docs as the near-dup run
    store2, _ = _run_engine(
        spark, web, web_df, tmp_path_factory.mktemp("exact_nd"),
        ordering="exact", neardup="exact",
    )
    assert n_docs >= store2.read("documents").count()


@pytest.mark.parametrize(
    "cfg",
    [dict(neardup="lsh"), dict(neardup="off", collect_metrics=False)],
    ids=["lsh", "off"],
)
def test_relaxed_metrics_equal_table_counts(
    spark, web, web_df, tmp_path_factory, cfg
):
    """Each relaxed epoch's metrics row equals counts taken from the
    tables it committed, in every config. Redirects answer 404 here so no
    doc_id recurs; then every ok page of an epoch has one fingerprints
    row, and the ones not saved are its near-dups."""
    tokens = 2
    no_redirects = web_df.withColumn(
        "status",
        F.when(F.col("final_url") != F.col("url"), F.lit(404))
        .otherwise(F.col("status")),
    )
    store, _ = _run_engine(
        spark, web, no_redirects,
        tmp_path_factory.mktemp("observed"),
        ordering="relaxed", rounds_per_epoch=tokens, **cfg,
    )
    log = store.read("fetch_log")
    ok_ids = [r.doc_id for r in log.where("gate = 'ok'").collect()]
    assert len(ok_ids) == len(set(ok_ids)), "fixture must not repeat doc_ids"
    frontier = store.read("frontier")
    docs = store.read("documents")
    fps = store.read("fingerprints") if cfg["neardup"] != "off" else None
    rows = store.read("metrics").orderBy("round").collect()
    assert len(rows) > 1
    for m in rows:
        lo, hi = m.round, m.round + tokens
        in_epoch = (F.col("round") >= lo) & (F.col("round") < hi)
        assert m.pops == log.where(in_epoch).count()
        assert m.new_urls == frontier.where(F.col("epoch_added") == lo).count()
        assert m.parsed_ok == log.where(in_epoch & (F.col("gate") == "ok")).count()
        assert m.docs_saved == docs.where(in_epoch).count()
        if fps is None:
            assert m.near_dups == 0
        else:
            n_fps = fps.where(
                (F.col("ord_round") >= lo) & (F.col("ord_round") < hi)
            ).count()
            assert m.near_dups == n_fps - m.docs_saved
    if fps is not None:
        assert sum(m.near_dups for m in rows) > 0, "fixture has no near-dups"


def test_relaxed_missing_web_row_gates_status(
    spark, web, web_df, exact_run, tmp_path_factory
):
    """A dequeued URL with no fetch-oracle row costs that row a
    ``status`` gate, not the epoch: the left join's null status arrives
    in the parse stage as NaN."""
    store, _ = exact_run
    url = sorted(
        r.url for r in store.read("fetch_log")
        .where("gate = 'ok' and round > 0").collect()
    )[0]
    store, _ = _run_engine(
        spark, web, web_df.where(F.col("url") != url),
        tmp_path_factory.mktemp("missing_row"),
        ordering="relaxed", neardup="off", rounds_per_epoch=2,
    )
    gates = {r.url: r.gate for r in store.read("fetch_log").collect()}
    assert gates[url] == "status"
    assert store.read("frontier").count() == store.read("seen").count()


def _seen_filter(store, bloom: BloomFilter) -> BloomFilter:
    """A filter of ``bloom``'s shape built from the seen table."""
    return BloomFilter.build_from_df_with_shape(
        store.read("seen"), "url_hash", bloom.n_bits, bloom.k
    )


def test_relaxed_bloom_bits_equal_seen_build(spark, web, web_df, tmp_path_factory):
    """The parse stage's increment adds every probed outlink; without a
    robots dim each one ends in the seen set, so the filter the epochs
    keep up to date equals a fresh build from that set (no rebuild fires
    with compaction off)."""
    store, engine = _run_engine(
        spark, web, web_df, tmp_path_factory.mktemp("bloom_bits"),
        ordering="relaxed", neardup="off", rounds_per_epoch=2,
    )
    assert (engine._bloom.bits == _seen_filter(store, engine._bloom).bits).all()


def test_relaxed_bloom_bits_cover_seen_with_robots(
    spark, web, web_df, tmp_path_factory
):
    """Robots-blocked links pass through the probe too: their bits may be
    set, so the filter covers the seen set (never a false negative) and
    may hold more."""
    from urllib.parse import urlsplit

    blocked_host = sorted(
        {urlsplit(u).netloc for u in web.pages}
        - {urlsplit(u).netloc for u in web.seeds}
    )[0]
    robots_df = spark.createDataFrame(
        [(blocked_host, ["-/"])], "host string, rules array<string>"
    )
    store = SnapshotStore(spark, str(tmp_path_factory.mktemp("bloom_robots")))
    engine = CrawlEngine(
        spark, store, web_df,
        EngineConfig(ordering="relaxed", neardup="off", rounds_per_epoch=2),
        robots_df=robots_df,
    )
    engine.seed(web.seeds)
    engine.run()
    seen_bits = _seen_filter(store, engine._bloom).bits
    assert ((engine._bloom.bits | seen_bits) == engine._bloom.bits).all()
    seen_urls = {r.url for r in store.read("frontier").collect()}
    assert blocked_host not in {urlsplit(u).netloc for u in seen_urls}


def test_bloom_answers_never_change_the_crawl(spark, web, web_df, tmp_path_factory):
    """The filter is advisory: a saturated one (every probe answers maybe
    seen) and none at all crawl the same tables as the default config."""

    def crawl(name: str, saturate: bool = False, **cfg):
        store = SnapshotStore(spark, str(tmp_path_factory.mktemp(name)))
        engine = CrawlEngine(
            spark, store, web_df, EngineConfig(rounds_per_epoch=4, **cfg)
        )
        if saturate:
            engine._bloom.bits[:] = 0xFF
        engine.seed(web.seeds)
        engine.run()
        return {
            table: sorted(tuple(r) for r in store.read(table).collect())
            for table in ("seen", "frontier", "documents")
        }

    default = crawl("bloom_default")
    assert default["documents"]
    assert crawl("bloom_saturated", saturate=True) == default
    assert crawl("bloom_off", use_bloom=False) == default


@pytest.fixture(scope="module")
def relaxed_compact_run(spark, web, web_df, tmp_path_factory):
    """Relaxed crawl with LSH on and compaction after every epoch, so
    ``compact`` and ``compact_tail`` write snapshots too."""
    return _run_engine(
        spark, web, web_df, tmp_path_factory.mktemp("relaxed_compact"),
        ordering="relaxed", neardup="lsh", rounds_per_epoch=2,
        compact_every=1,
    )


def _tables(store) -> list[str]:
    return sorted(t for t in os.listdir(store.base_dir) if store.exists(t))


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.collect())


@pytest.mark.parametrize("run", ["relaxed_compact_run", "exact_run"])
def test_declared_schema_equals_inferred(spark, request, run):
    """Every state table reads back under its recorded schema exactly as
    parquet inference would read it: the relaxed crawl writes through
    Spark appends, ``compact`` and ``compact_tail``; the exact crawl
    through pyarrow ``append_rows``."""
    store, _ = request.getfixturevalue(run)
    tables = _tables(store)
    expected = {"frontier", "seen", "completions", "documents",
                "fingerprints", "fetch_log", "metrics"}
    if run == "relaxed_compact_run":
        expected.add("watermarks")
        paths = [
            p for t in tables for p in store._load_manifest(t)["paths"]
        ]
        assert any("/base-" in p for p in paths)
        assert any("/tier-" in p for p in paths)
    assert set(tables) == expected
    for t in tables:
        manifest = store._load_manifest(t)
        assert "schema" in manifest, t
        inferred = spark.read.parquet(*manifest["paths"]).schema
        assert store.read(t).schema == inferred, t


def test_manifest_without_schema_reads_by_inference(
    spark, web_df, relaxed_compact_run, tmp_path
):
    """A store whose manifests predate the recorded schema reads the same
    rows under the same schema, and still resumes."""
    store, _ = relaxed_compact_run
    legacy = SnapshotStore(spark, str(tmp_path))
    for t in _tables(store):
        manifest = store._load_manifest(t)
        del manifest["schema"]
        with open(legacy._manifest_path(t), "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        assert legacy.read(t).schema == store.read(t).schema, t
        assert _rows(legacy.read(t)) == _rows(store.read(t)), t
    engine = CrawlEngine(
        spark, legacy, web_df,
        EngineConfig(ordering="relaxed", neardup="lsh", rounds_per_epoch=2),
    )
    summary = engine.run()
    assert summary["urls_seen"] == store.read("seen").count()
    assert summary["urls_done"] == summary["urls_seen"]
