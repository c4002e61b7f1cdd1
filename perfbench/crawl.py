"""The crawl workloads: CrawlEngine over the synthetic skewed frontier.

A run sets the engine up ``SETUP_REPS`` times on fresh stores (frontier
seeding, then the constructor: resume, seen table, Bloom build) and keeps
the last. One ``run()`` call then crawls one warm epoch plus the timed
epochs; compaction counts epochs per call, so the timed epochs must
share that call (see README, "Traps"). Per-epoch times come from the
engine's ``metrics`` table. The outputs are then checked against
``model.CrawlModel``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spacetime_crawler4py_spark.functions.bloom import BloomFilter
from spacetime_crawler4py_spark.plans import dequeue
from spacetime_crawler4py_spark.plans import parse_stage as ps
from spacetime_crawler4py_spark.sources.store import SnapshotStore
from spacetime_crawler4py_spark.sources.synthfrontier import (
    make_synthetic_fetcher,
    synthetic_crawl_inputs,
)
from spacetime_crawler4py_spark.streaming import epochs
from spacetime_crawler4py_spark.streaming.epochs import CrawlEngine, EngineConfig

import host
import tracing
from model import TEXT_PERIOD, CrawlModel, seed_key

SETUP_REPS = 2
# epochs crawled before the timed ones, in the same run() call
WARM_EPOCHS = 1
ACTIONS = ("collect", "count", "isEmpty")  # the DataFrame actions epochs use
STATE_TABLES = ("frontier", "seen", "completions", "documents",
                "fingerprints", "fetch_log")


@dataclass(frozen=True)
class CrawlSpec:
    n_urls: int
    n_domains: int
    tokens: int        # politeness tokens per domain per epoch
    epoch_s: float     # nominal epoch wall at 4 cores; --seconds / epoch_s
    lean: bool         # bench.py's lean config, else EngineConfig() defaults

    def config(self) -> EngineConfig:
        if self.lean:
            return EngineConfig(
                ordering="relaxed", rounds_per_epoch=self.tokens,
                neardup="off", use_bloom=True, collect_metrics=False,
                compact_every=4, dedup_doc_ids=False,
            )
        return EngineConfig(rounds_per_epoch=self.tokens)


WORKLOADS = {
    "crawl_bulk": CrawlSpec(60_000, 100, 16, 5.0, lean=True),
    # above the 99,991-id text period, so some pages share their text
    "crawl_default": CrawlSpec(120_000, 150, 4, 7.5, lean=False),
}
SMOKE = {
    "crawl_bulk": CrawlSpec(10_000, 50, 8, 5.0, lean=True),
    "crawl_default": CrawlSpec(10_000, 50, 4, 7.5, lean=False),
}


def _mix(i, seed: int):
    """Spark twin of ``model.mix``."""
    return F.pmod(
        (i.cast("bigint") + 1) * F.lit(2654435761) + F.lit(seed_key(seed) * 97),
        F.lit(1 << 32),
    )


def seeded_frontier(spark, spec: CrawlSpec, seed: int) -> DataFrame:
    """The generator's full frontier filtered to the seed's half and
    re-sequenced in the seed's FIFO order: the Spark twin of
    ``model.is_seeded`` and ``model.fifo_key``."""
    frontier, _web = synthetic_crawl_inputs(spark, spec.n_urls, spec.n_domains)
    i = F.col("rk_pos")
    keep = _mix(i, seed)
    order = _mix(F.pmod(i, F.lit(TEXT_PERIOD)), seed)
    w = Window.partitionBy("domain").orderBy("_order", "rk_pos")
    return (
        frontier.where(F.shiftright(keep, 16).bitwiseAND(F.lit(1)) == 0)
        .withColumn("_order", order)
        .withColumn("seq", F.row_number().over(w).cast("bigint"))
        .drop("_order")
    )


def instrument(tracer: tracing.Tracer, spark) -> None:
    """Spans around the calls an epoch makes into the program's layers."""
    tracer.wrap(CrawlEngine, "__init__", "engine.init")
    tracer.wrap(CrawlEngine, "_run_relaxed_epoch", "epoch")
    # lazy plan builders: their time is the driver analysing the plans
    tracer.wrap(CrawlEngine, "_fetch_and_parse", "driver.plan_fetch_parse")
    tracer.wrap(CrawlEngine, "_flag_near_dups_lsh", "driver.plan_near_dups")
    tracer.wrap(epochs, "politeness_heads_indexed", "dequeue.plan")
    for m in ("append", "append_rows", "overwrite_rows", "compact",
              "compact_tail"):
        tracer.wrap(SnapshotStore, m,
                    lambda _s, name, *a, _m=m, **k: f"store.{_m}.{name}")
    for m in ("read", "read_or_none", "read_last_delta"):
        tracer.wrap(SnapshotStore, m, "store.read")
    tracer.wrap(BloomFilter, "build_from_df", "bloom.build", "classmethod")
    tracer.wrap(BloomFilter, "build_from_df_with_shape", "bloom.increment",
                "classmethod")
    tracer.wrap(BloomFilter, "merge_inplace", "bloom.merge", "method")
    frame = type(spark.range(1))  # the session's DataFrame class
    for m in ACTIONS:
        tracer.wrap(frame, m, f"spark.{m}")
    for m in ("persist", "unpersist"):  # persist plans the cached query
        tracer.wrap(frame, m, f"driver.{m}")
    tracer.wrap(type(spark), "createDataFrame", "driver.createDataFrame")


def _dir_bytes(path: str, since: float = 0.0) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _digest(items) -> str:
    """Order-independent digest of a collection of strings."""
    h = hashlib.sha256()
    for item in sorted(items):
        h.update(item.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    return statistics.quantiles(xs, n=4)


def run(spark, spec: CrawlSpec, seed: int, seconds: int,
        work: str, session_s: float, tracer: tracing.Tracer | None,
        event_log: str | None) -> dict:
    fetcher = make_synthetic_fetcher(spec.n_urls, spec.n_domains)
    # enough epochs in the one run() call for compaction to run once
    timed = max(1, int(seconds // spec.epoch_s),
                spec.config().compact_every - WARM_EPOCHS)
    setup_times = []
    for rep in range(SETUP_REPS):
        store_dir = os.path.join(work, f"store{rep}")
        t = time.perf_counter()
        store = SnapshotStore(spark, store_dir)
        store.append("frontier", seeded_frontier(spark, spec, seed),
                     sort_by=["seq"])
        engine = CrawlEngine(spark, store, None, spec.config(), fetcher=fetcher)
        setup_times.append(time.perf_counter() - t)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(store_dir)

    n_epochs = WARM_EPOCHS + timed
    errors: list[str] = []
    with host.Sampler() as sampler:
        t0 = time.time()
        try:
            engine.run(max_rounds=n_epochs)
        except Exception:  # an epoch that raised counts as failed
            errors.append(traceback.format_exc(limit=3))
        t1 = time.time()

    rows = store.read("metrics").orderBy("round").collect()
    warm, timed_rows = rows[:WARM_EPOCHS], rows[WARM_EPOCHS:]
    warm_s = sum(r.wall_s for r in warm)
    warm_end = t0 + warm_s
    pops_timed = sum(r.pops for r in timed_rows)
    walls = [r.wall_s for r in timed_rows]
    weather = sampler.window(warm_end, t1)
    metrics = {
        "crawl_urls_per_s": pops_timed / (t1 - warm_end),
        "epoch_s_p50": statistics.median(walls),
        "setup_s": session_s + statistics.median(setup_times) + warm_s,
        "cpu_s": weather["cpu_s"],
        "peak_rss_mb": weather["peak_rss_mb"],
        "store_mb": _dir_bytes(store_dir) / 2**20,
    }
    t = time.perf_counter()
    checks, model = check(store, spec, seed, n_epochs)
    check_s = time.perf_counter() - t
    attempted = sum(r.pops for r in rows)
    failed = checks["bad_gates"] + len(errors) + len(checks["failures"])
    metrics["failed_frac"] = failed / max(attempted, 1)
    record = {
        "spec": spec.__dict__, "timed_epochs": timed,
        "phases_s": {"session": session_s, "setup_reps": sum(setup_times),
                     "crawl": t1 - t0, "check": check_s},
        "setup_reps_s": setup_times, "warm_epochs_s": [r.wall_s for r in warm],
        "epoch_s": walls, "epoch_s_quartiles": _quartiles(walls),
        "pops_timed": pops_timed, "timed_wall_s": t1 - warm_end,
        "metrics_table": [r.asDict() for r in rows],
        "host": {**weather, "loadavg": host.loadavg(), "nproc": host.nproc()},
        "checks": checks, "errors": errors,
    }
    result = {"attempted": attempted, "failed": failed,
              "correct": failed == 0, "metrics": metrics, "record": record}
    if tracer is not None:
        result["layers"] = layers(tracer, store, store_dir, spec,
                                  fetcher, model, warm_end, t1, event_log)
    return result


def check(store: SnapshotStore, spec: CrawlSpec, seed: int,
          n_epochs: int) -> tuple[dict, CrawlModel]:
    """Compare the crawl's outputs with the model's, plus invariants."""
    model = CrawlModel(spec.n_urls, spec.n_domains, seed, neardup=not spec.lean)
    for _ in range(n_epochs):
        model.epoch(spec.tokens)
    seen = [r[0] for r in store.read("seen").collect()]
    comp = [r[0] for r in store.read("completions").select("url_hash").collect()]
    served = {r.domain: r.served for r in store.read("watermarks").collect()}
    served = {d: s for d, s in served.items() if s}
    docs = store.read("documents").count()
    near = sum(r.near_dups for r in store.read("metrics").collect())
    bad_gates = store.read("fetch_log").where(F.col("gate") != "ok").count()

    want_seen = model.seen_hashes()
    failures = []
    if len(seen) != len(set(seen)):
        failures.append("duplicate url_hash in seen")
    if set(seen) != want_seen:
        failures.append(f"seen set: {len(set(seen))} != model {len(want_seen)}")
    if len(comp) != len(set(comp)):
        failures.append("duplicate completion")
    if not set(comp) <= set(seen):
        failures.append("completion outside seen")
    if set(comp) != set(model.completed_hashes()):
        failures.append(f"completions: {len(comp)} != model {len(model.completed)}")
    if served != model.served:
        failures.append("per-domain served watermarks differ from model")
    if any(s > spec.tokens * n_epochs for s in served.values()):
        failures.append("a domain served more than tokens x epochs")
    if docs != model.docs_saved:
        failures.append(f"docs saved: {docs} != model {model.docs_saved}")
    if not spec.lean and near != model.near_dups:
        failures.append(f"near dups: {near} != model {model.near_dups}")

    return {
        "failures": failures, "bad_gates": bad_gates,
        "seen": len(seen), "completions": len(comp), "docs_saved": docs,
        "near_dups": near, "near_dup_share": near / max(len(comp), 1),
        "seen_digest": _digest(seen),
        "served_digest": _digest(f"{d}={s}" for d, s in served.items()),
    }, model


def layers(tracer: tracing.Tracer, store: SnapshotStore,
           store_dir: str, spec: CrawlSpec, fetcher, model: CrawlModel,
           warm_end: float, t1: float, event_log: str | None) -> dict:
    """Per-layer metrics of a traced crawl. Times are per timed epoch
    unless the name says otherwise."""
    eps = tracer.named("epoch")[WARM_EPOCHS:]
    n = max(len(eps), 1)

    def per_epoch(prefix: str) -> float:
        return sum(
            s.dur for e in eps for s in tracer.named(prefix, e, direct=True)
        ) / n

    out: dict[str, float] = {}
    for table in STATE_TABLES:
        out[f"store.append.{table}_s"] = per_epoch(f"store.append.{table}")
    in_timed = [s for s in tracer.spans if warm_end <= s.start <= t1]
    out["store.compact_s"] = sum(
        s.dur for s in in_timed if s.name.startswith("store.compact.")
    )
    out["store.compact_tail_s"] = sum(
        s.dur for s in in_timed if s.name.startswith("store.compact_tail.")
    )
    # one manifest version per commit; its paths are the read fan-in
    versions = glob.glob(os.path.join(store_dir, "*", "manifest-v*.json"))
    out["store.commits"] = sum(
        os.stat(v).st_mtime >= warm_end for v in versions
    )
    out["store.bytes_written"] = _dir_bytes(store_dir, since=warm_end)
    fan_in = 0
    for v in versions:
        with open(v, encoding="utf-8") as fh:
            fan_in = max(fan_in, len(json.load(fh)["paths"]))
    out["store.max_paths"] = fan_in

    out["bloom.build_s"] = statistics.median(
        [s.dur for s in tracer.named("bloom.build")] or [0.0]
    )
    out["bloom.merge_s"] = per_epoch("bloom.increment") + per_epoch("bloom.merge")
    bloom = tracer.receivers.get("bloom.merge")
    out["bloom.fill_rate"] = bloom.fill_rate() if bloom is not None else 0.0

    out["engine.init_s"] = statistics.median(
        s.dur for s in tracer.named("engine.init")
    )
    # the first action of an epoch is the domain-count collect that runs
    # dequeue + fetch + parse
    actions = tuple(f"spark.{m}" for m in ACTIONS)
    fetch_parse = [
        [c for c in tracer.children(e) if c.name in actions][0] for e in eps
    ]
    out["engine.fetch_parse_job_s"] = sum(s.dur for s in fetch_parse) / n
    out["engine.new_urls_per_epoch"] = statistics.mean(
        model.new_per_epoch[WARM_EPOCHS:])
    pops = sum(r.pops for r in store.read("metrics").collect())
    out["engine.near_dup_frac"] = model.near_dups / max(pops, 1)

    # attribution: the last timed epoch's direct children against its wall
    last = eps[-1]
    shares: dict[str, float] = {}
    for c in tracer.children(last):
        shares[c.name] = shares.get(c.name, 0.0) + c.dur
    attributed = sum(shares.values())
    out["trace.epoch_s"] = last.dur
    out["trace.attributed_frac"] = attributed / last.dur
    out["trace.unattributed_s"] = last.dur - attributed

    if event_log is not None:
        jobs, tasks = tracing.read_event_log(event_log)
        in_eps = [
            [j for j in jobs if e.start <= j.submit <= e.end] for e in eps
        ]
        out["engine.spark_jobs_per_epoch"] = sum(len(j) for j in in_eps) / n
        out["engine.driver_s"] = sum(
            e.dur - tracing.covered([(j.submit, j.end) for j in js],
                                    e.start, e.end)
            for e, js in zip(eps, in_eps)
        ) / n
        timed_tasks = [t for t in tasks if warm_end <= t.finish <= t1]
        out["spark.shuffle_write_bytes"] = sum(
            t.shuffle_write for t in timed_tasks) / n
        out["spark.spill_bytes"] = sum(t.spill for t in timed_tasks) / n
        out["spark.gc_s"] = sum(t.gc_s for t in timed_tasks) / n
        skews = []
        for fp in fetch_parse:
            stage_ids = {
                sid for j in jobs if fp.start <= j.submit <= fp.end
                for sid in j.stages
            }
            by_stage: dict[int, list[tracing.Task]] = {}
            for t in tasks:
                if t.stage in stage_ids:
                    by_stage.setdefault(t.stage, []).append(t)
            if by_stage:
                heavy = max(by_stage.values(),
                            key=lambda ts: sum(t.run_s for t in ts))
                skews.append(tracing.task_skew(heavy))
        out["spark.task_skew"] = statistics.median(skews) if skews else 1.0

    out.update(dequeue_and_parse(store, spec, fetcher))
    return {"metrics": out, "last_epoch_shares": shares}


def dequeue_and_parse(store: SnapshotStore, spec: CrawlSpec, fetcher) -> dict:
    """The next epoch's dequeue, noop-materialized on the run's store, and
    the parse stage run in this process over the same URLs with the names
    it calls timed one by one."""
    wm = store.read("watermarks").select("domain", "served")
    bound = wm.agg(F.max("served")).collect()[0][0] + spec.tokens
    heads = dequeue.politeness_heads_indexed(
        store.read("frontier"), wm, spec.tokens, max_seq_bound=bound
    )
    t = time.perf_counter()
    heads.write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t
    pdf = heads.toPandas()

    clock: dict[str, float] = {}
    counts = {"raw_links": 0, "valid_links": 0}
    names = ("parse_page", "looks_like_xml", "is_valid", "urlkit",
             "similarity_tokens", "shingle_fingerprints",
             "minhash_signature", "minhash_bands")
    orig = {k: getattr(ps, k) for k in names}

    def timed(layer: str, fn):
        def call(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                clock[layer] = clock.get(layer, 0.0) + time.perf_counter() - t
        return call

    def parse_page(*args, **kwargs):
        page = orig["parse_page"](*args, **kwargs)
        counts["raw_links"] += len(page.outlinks)
        return page

    def is_valid(url):
        ok = orig["is_valid"](url)
        counts["valid_links"] += bool(ok)
        return ok

    class _Urlkit:
        def __getattr__(self, attr):
            return timed("urlkit", getattr(orig["urlkit"], attr))

    patch = {
        "parse_page": timed("html", parse_page),
        "looks_like_xml": timed("html", orig["looks_like_xml"]),
        "is_valid": timed("is_valid", is_valid),
        "urlkit": _Urlkit(),
        **{k: timed("sketch", orig[k]) for k in names[4:]},
    }
    try:
        for k, v in patch.items():
            setattr(ps, k, v)
        stage = ps.make_parse_stage(
            fetcher=timed("fetch_render", fetcher),
            compute_sketches=not spec.lean,
        )
        t = time.perf_counter()
        out = list(stage(iter([pdf])))
        wall = time.perf_counter() - t
    finally:
        for k, v in orig.items():
            setattr(ps, k, v)
    pages = sum(len(b) for b in out)
    kept = sum(len(links) for b in out for links in b["outlinks"])
    return {
        "dequeue.scan_s": scan_s,
        "dequeue.rows": len(pdf),
        "parse.pages_per_core_s": pages / wall,
        "parse.fetch_render_s": clock.get("fetch_render", 0.0),
        "parse.html_s": clock.get("html", 0.0),
        "parse.is_valid_s": clock.get("is_valid", 0.0),
        "parse.urlkit_s": clock.get("urlkit", 0.0),
        "parse.sketch_s": clock.get("sketch", 0.0),
        "parse.outlinks_per_page": kept / max(pages, 1),
        "parse.valid_link_frac": counts["valid_links"] / max(counts["raw_links"], 1),
    }
