"""The relaxed engine's per-domain (served, enqueued) dim lives only in
the watermarks table, advanced by distributed merges — the
10^7+-domain path where O(domains) driver dicts would not fit. Contract:
enqueued tracks the frontier's per-domain max(seq), resume and the
crash-window repair run as joins instead of collects, and the engine
holds no per-domain driver state even at 10^5 domains."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacetime_crawler4py_spark.sources.store import SnapshotStore
from spacetime_crawler4py_spark.sources.webgen import generate_web
from spacetime_crawler4py_spark.streaming.epochs import CrawlEngine, EngineConfig

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


def _driver_collections(eng):
    """The engine's non-empty driver-side containers (dicts, sets,
    lists). A relaxed-mode engine must hold none: every per-domain or
    per-URL fact lives in a table or a DataFrame."""
    return {
        k: v for k, v in vars(eng).items()
        if isinstance(v, (dict, set, list, tuple)) and v
    }


def test_relaxed_engine_holds_no_per_domain_dict(spark, web, web_df, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "relaxed"))
    eng = CrawlEngine(
        spark, store, web_df,
        EngineConfig(ordering="relaxed", neardup="off", rounds_per_epoch=2),
    )
    assert _driver_collections(eng) == {}
    eng.seed(web.seeds)
    eng.run()
    assert _driver_collections(eng) == {}
    wm = {
        r.domain: (r.served, r.enqueued)
        for r in store.read("watermarks").collect()
    }
    fmax = {
        r.domain: r.m
        for r in store.read("frontier")
        .groupBy("domain").agg(F.max("seq").alias("m")).collect()
    }
    for dom, m in fmax.items():
        assert wm[dom][1] == m, (dom, wm[dom], m)
    # the crawl ran to fixpoint: every enqueued row was served
    assert all(served == enq for served, enq in wm.values()), wm


def test_merged_watermarks_take_raw_rows(spark):
    """The watermark advance sums raw served-adds and maxes raw enqueue
    candidates per domain: duplicate-domain rows give the same table as
    inputs pre-aggregated to one row per domain."""
    wm = spark.createDataFrame(
        [("a", 2, 5), ("b", 0, 1), ("c", 4, 4)],
        "domain string, served bigint, enqueued bigint",
    )
    adds = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("d",), ("d",), ("d",)], "domain string"
    ).select("domain", F.lit(1).alias("_add"))
    enq = spark.createDataFrame(
        [("a", 7), ("a", 9), ("a", 8), ("b", 1), ("e", 2), ("e", 1)],
        "domain string, _dmax bigint",
    )
    pre_adds = adds.groupBy("domain").agg(F.count("*").alias("_add"))
    pre_enq = enq.groupBy("domain").agg(F.max("_dmax").alias("_dmax"))

    def table(*parts):
        merged = CrawlEngine._merged_watermarks(*parts)
        assert merged.columns == ["domain", "served", "enqueued"]
        return sorted(tuple(r) for r in merged.collect())

    raw = table(wm, adds, enq)
    assert raw == table(wm, pre_adds, pre_enq)
    assert raw == [
        ("a", 4, 9), ("b", 1, 1), ("c", 4, 4), ("d", 3, 0), ("e", 0, 2),
    ]
    # no prior dim (a first epoch) and single inputs (resume sync)
    assert table(None, adds, enq) == table(None, pre_adds, pre_enq)
    assert table(wm, None, enq) == table(wm, None, pre_enq)


def test_store_mode_resume(spark, web, web_df, tmp_path):
    cfg = dict(ordering="relaxed", neardup="off", rounds_per_epoch=2)
    store_a = SnapshotStore(spark, str(tmp_path / "sa"))
    eng_a = CrawlEngine(spark, store_a, web_df, EngineConfig(**cfg))
    eng_a.seed(web.seeds)
    eng_a.run()

    store_b = SnapshotStore(spark, str(tmp_path / "sb"))
    eng_b1 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    eng_b1.seed(web.seeds)
    eng_b1.run(max_rounds=2)
    del eng_b1
    eng_b2 = CrawlEngine(spark, store_b, web_df, EngineConfig(**cfg))
    assert _driver_collections(eng_b2) == {}
    eng_b2.run()
    assert _sets(store_a) == _sets(store_b)


def test_store_mode_crash_window_repair(spark, web, web_df, tmp_path):
    """A stale watermarks snapshot (crash between the frontier append and
    the watermark merge) is repaired by the distributed resume merge
    instead of a driver collect."""
    import shutil

    cfg = dict(ordering="relaxed", neardup="off", rounds_per_epoch=2)
    store = SnapshotStore(spark, str(tmp_path / "crash"))
    eng = CrawlEngine(spark, store, web_df, EngineConfig(**cfg))
    eng.seed(web.seeds)
    eng.run(max_rounds=1)
    v_stale = store.current_version("watermarks")
    eng.run(max_rounds=1)
    del eng
    shutil.copyfile(
        store._manifest_path("watermarks", v_stale),
        store._manifest_path("watermarks"),
    )

    eng2 = CrawlEngine(spark, store, web_df, EngineConfig(**cfg))
    # the resume merge must have lifted enqueued to the frontier's reality
    wm = {r.domain: int(r.enqueued) for r in store.read("watermarks").collect()}
    fmax = {
        r.domain: int(r.m)
        for r in store.read("frontier")
        .groupBy("domain").agg(F.max("seq").alias("m")).collect()
    }
    for dom, m in fmax.items():
        assert wm.get(dom, 0) >= m, (dom, m, wm.get(dom))
    eng2.run()
    dup_slots = (
        store.read("frontier").groupBy("domain", "seq").count()
        .where("count > 1").count()
    )
    assert dup_slots == 0


def test_store_mode_100k_domains_no_driver_state(spark, tmp_path):
    """10^5 domains, externally seeded (as a cluster deployment would):
    one epoch serves every domain once, the watermark dim materializes as
    a 10^5-row table, and the driver holds no per-domain state."""
    n = 100_000
    page = b"<html><body>" + b"word " * 25 + b"</body></html>"

    frontier = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id")).alias("url_hash"),
        F.concat(
            F.lit("https://d"), F.col("id"), F.lit(".uci.edu/p")
        ).alias("url"),
        F.concat(F.lit("d"), F.col("id"), F.lit(".uci.edu")).alias("domain"),
        (F.col("id") % 8).cast("int").alias("salt"),
        F.lit(None).cast("string").alias("parent"),
        F.lit(-1).cast("bigint").alias("rk_round"),
        F.lit("").alias("rk_pop"),
        F.lit(0).cast("int").alias("rk_pos"),
        F.lit(-1).cast("bigint").alias("epoch_added"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    store = SnapshotStore(spark, str(tmp_path / "big"))
    store.append("frontier", frontier, sort_by=["seq"])

    def fetcher(url):
        return (200, "text/html", page, url)

    eng = CrawlEngine(
        spark, store, None,
        EngineConfig(ordering="relaxed", neardup="off", use_bloom=False,
                     collect_metrics=False),
        fetcher=fetcher,
    )
    assert _driver_collections(eng) == {}
    eng.run(max_rounds=1)
    assert _driver_collections(eng) == {}
    wm = store.read("watermarks")
    assert wm.count() == n
    assert wm.where("served = 1").count() == n
    assert store.read("completions").count() == n
