"""Wall-clock politeness pacing in the in-stage fetcher (SURVEY §2.7 UDF
family 5; reference frontier.py politeness delay).

The property (fake clock, no Spark): within a partition, no domain is
fetched more often than once per delay, sleeps cover only genuinely idle
time (different domains interleave between a domain's consecutive hits),
and pacing state spans batches. Plus an engine-level run proving the
paced mode produces the same crawl and takes at least the mandated
serial time for its longest domain queue."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from spacetime_crawler4py_spark.plans.parse_stage import make_parse_stage

DELAY = 0.5
PAGE = b"<html><body>" + b"word " * 30 + b"</body></html>"


class FakeClock:
    def __init__(self):
        self.t = 0.0
        self.sleeps: list[float] = []

    def monotonic(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        assert s > 0
        self.sleeps.append(s)
        self.t += s


def _mk_rows(urls_by_domain: dict[str, int], delays=None):
    """Dequeued rows; with ``delays`` ({domain: seconds}) each row also
    carries the ``crawl_delay`` column the engine joins in (NaN, as pandas
    renders NULL, for an undeclared domain)."""
    rows = []
    for dom, n in urls_by_domain.items():
        for slot in range(1, n + 1):
            row = {
                "url": f"https://{dom}/p{slot}",
                "url_hash": f"h-{dom}-{slot}",
                "domain": dom,
                "slot": slot,
                "rk_round": 0,
                "rk_pop": "",
                "rk_pos": 0,
            }
            if delays is not None:
                row["crawl_delay"] = delays.get(dom, math.nan)
            rows.append(row)
    return rows


def _run_stage(batches, clock, fetch_log):
    def fetcher(url):
        fetch_log.append((url, clock.monotonic()))
        return (200, "text/html", PAGE, url)

    stage = make_parse_stage(
        fetcher=fetcher, compute_sketches=False,
        politeness_delay=DELAY, clock=clock,
    )
    for out in stage(iter([pd.DataFrame(b) for b in batches])):
        assert (out["gate"] == "ok").all()


def _domain_times(fetch_log):
    times: dict[str, list[float]] = {}
    for url, t in fetch_log:
        dom = url.split("/")[2]
        times.setdefault(dom, []).append(t)
    return times


def test_no_domain_fetched_faster_than_delay():
    clock, log = FakeClock(), []
    _run_stage(
        [_mk_rows({"a.uci.edu": 4, "b.uci.edu": 3, "c.uci.edu": 1})],
        clock, log,
    )
    for dom, ts in _domain_times(log).items():
        for t1, t2 in zip(ts, ts[1:]):
            assert t2 - t1 >= DELAY - 1e-9, (dom, ts)


def test_domains_interleave_instead_of_serializing():
    """3 domains x 3 slots: the slot-ordered interleave means total wall
    time is the per-domain serial minimum (2 gaps x delay), NOT the
    fully-serialized 3x(2xdelay)."""
    clock, log = FakeClock(), []
    _run_stage(
        [_mk_rows({"a.uci.edu": 3, "b.uci.edu": 3, "c.uci.edu": 3})],
        clock, log,
    )
    assert clock.t == pytest.approx(2 * DELAY)
    for _dom, ts in _domain_times(log).items():
        assert ts == pytest.approx([0.0, DELAY, 2 * DELAY])


def test_single_domain_queue_is_fully_paced():
    clock, log = FakeClock(), []
    _run_stage([_mk_rows({"a.uci.edu": 5})], clock, log)
    assert clock.t == pytest.approx(4 * DELAY)


def test_pacing_state_spans_batches():
    """Arrow slices a partition into multiple batches; the last-fetch map
    must survive the batch boundary or the first row of batch 2 would
    fetch immediately."""
    clock, log = FakeClock(), []
    batch1 = _mk_rows({"a.uci.edu": 2})
    batch2 = [dict(r, slot=r["slot"] + 2,
                   url=f"https://a.uci.edu/p{r['slot'] + 2}")
              for r in _mk_rows({"a.uci.edu": 2})]
    _run_stage([batch1, batch2], clock, log)
    ts = _domain_times(log)["a.uci.edu"]
    assert ts == pytest.approx([0.0, DELAY, 2 * DELAY, 3 * DELAY])


def test_zero_delay_never_sleeps():
    clock, log = FakeClock(), []

    def fetcher(url):
        log.append((url, clock.monotonic()))
        return (200, "text/html", PAGE, url)

    stage = make_parse_stage(
        fetcher=fetcher, compute_sketches=False,
        politeness_delay=0.0, clock=clock,
    )
    list(stage(iter([pd.DataFrame(_mk_rows({"a.uci.edu": 4}))])))
    assert clock.sleeps == [] and clock.t == 0.0


def test_engine_wallclock_mode_paces_and_crawls(spark, tmp_path):
    """Engine-level: wallclock_politeness=True partitions the fetch by
    domain and paces for real — the epoch's wall time must cover the
    longest domain queue's mandated gaps, and the crawl result is
    unchanged vs the virtual-politeness run."""
    import time

    from spacetime_crawler4py_spark.sources.store import SnapshotStore
    from spacetime_crawler4py_spark.streaming.epochs import (
        CrawlEngine, EngineConfig,
    )

    host = "www.ics.uci.edu"
    n = 4
    root = (
        "<html><body>"
        + " ".join(f'<a href="/p{i}">x</a>' for i in range(1, n + 1))
        + "twenty words " * 15
        + "</body></html>"
    ).encode()

    def fetcher(url):
        payload = root if url == f"https://{host}" else PAGE
        return (200, "text/html", payload, url)

    def crawl(wallclock: bool, delay: float, where: str):
        store = SnapshotStore(spark, str(tmp_path / where))
        eng = CrawlEngine(
            spark, store, None,
            EngineConfig(
                ordering="relaxed", neardup="off", rounds_per_epoch=n + 1,
                politeness_delay=delay, wallclock_politeness=wallclock,
            ),
            fetcher=fetcher,
        )
        eng.seed([f"https://{host}"])
        t0 = time.monotonic()
        eng.run()
        wall = time.monotonic() - t0
        return {r.url_hash for r in store.read("seen").collect()}, wall

    seen_paced, wall_paced = crawl(True, 0.4, "paced")
    seen_virtual, _ = crawl(False, 0.4, "virtual")
    assert seen_paced == seen_virtual and len(seen_paced) == n + 1
    # first epoch fetches the root alone; the second fetches the n
    # discovered pages of the single domain in one paced partition:
    # at least (n-1) gaps of 0.4s must elapse
    assert wall_paced >= (n - 1) * 0.4


def test_crawl_delay_overrides_per_domain():
    """robots.txt Crawl-delay per-domain overrides, carried as the
    ``crawl_delay`` column (joined in from build_crawl_delays_df): a
    domain with a declared delay paces at THAT interval (either direction
    vs the config default); undeclared (NULL/NaN) domains keep the
    default."""
    clock, log = FakeClock(), []

    def fetcher(url):
        log.append((url, clock.monotonic()))
        return (200, "text/html", PAGE, url)

    stage = make_parse_stage(
        fetcher=fetcher, compute_sketches=False,
        politeness_delay=DELAY, delay_col="crawl_delay", clock=clock,
    )
    rows = _mk_rows(
        {"slow.uci.edu": 3, "fast.uci.edu": 3, "plain.uci.edu": 3},
        delays={"slow.uci.edu": 2.0, "fast.uci.edu": 0.1},
    )
    for out in stage(iter([pd.DataFrame(rows)])):
        assert (out["gate"] == "ok").all()
    times = _domain_times(log)
    for dom, dly in (
        ("slow.uci.edu", 2.0), ("fast.uci.edu", 0.1), ("plain.uci.edu", DELAY)
    ):
        gaps = [b - a for a, b in zip(times[dom], times[dom][1:])]
        assert gaps and all(g >= dly - 1e-9 for g in gaps), (dom, gaps)
    # no over-waiting: total elapsed equals the BINDING mandate — the
    # slow domain's 2 gaps x 2.0s — not the sum of every domain's waits
    # (other domains ride inside the slow domain's idle windows)
    assert clock.t == pytest.approx(4.0)


def test_delay_column_below_default_speeds_up_its_domain():
    """A declared Crawl-delay SMALLER than the config default wins in
    that direction too: a lone 0.1s domain finishes in 0.2s of sleep,
    not the 1.0s the 0.5s default would impose."""
    clock, log = FakeClock(), []

    def fetcher(url):
        log.append((url, clock.monotonic()))
        return (200, "text/html", PAGE, url)

    stage = make_parse_stage(
        fetcher=fetcher, compute_sketches=False,
        politeness_delay=DELAY, delay_col="crawl_delay", clock=clock,
    )
    rows = _mk_rows({"fast.uci.edu": 3}, delays={"fast.uci.edu": 0.1})
    for out in stage(iter([pd.DataFrame(rows)])):
        assert (out["gate"] == "ok").all()
    assert abs(sum(clock.sleeps) - 0.2) < 1e-9, clock.sleeps
    ts = [t for _, t in log]
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    assert all(abs(g - 0.1) < 1e-9 for g in gaps), gaps


def test_engine_crawl_delays_df_reaches_the_fetch_stage(spark, tmp_path):
    """Engine-level wiring for the delay dim: with CrawlEngine's
    crawl_delays_df set, the (domain, crawl_delay) column
    joins onto the dequeued batch and the in-stage pacer honors it — a
    declared 0.8s delay must dominate the 0.05s config default, so the
    epoch wall time proves the column actually arrived (no driver dict
    anywhere on this path)."""
    import time

    from spacetime_crawler4py_spark.sources.store import SnapshotStore
    from spacetime_crawler4py_spark.streaming.epochs import (
        CrawlEngine, EngineConfig,
    )

    host = "www.ics.uci.edu"
    n = 4
    root = (
        "<html><body>"
        + " ".join(f'<a href="/p{i}">x</a>' for i in range(1, n + 1))
        + "twenty words " * 15
        + "</body></html>"
    ).encode()

    def fetcher(url):
        payload = root if url == f"https://{host}" else PAGE
        return (200, "text/html", payload, url)

    delays_df = spark.createDataFrame(
        [(host, 0.8), ("unrelated.example.org", 9.9)],
        "domain string, crawl_delay double",
    )
    store = SnapshotStore(spark, str(tmp_path / "dimpaced"))
    eng = CrawlEngine(
        spark, store, None,
        EngineConfig(
            ordering="relaxed", neardup="off", rounds_per_epoch=n + 1,
            politeness_delay=0.05, wallclock_politeness=True,
        ),
        fetcher=fetcher,
        crawl_delays_df=delays_df,
    )
    eng.seed([f"https://{host}"])
    t0 = time.monotonic()
    eng.run()
    wall = time.monotonic() - t0
    assert {r.url_hash for r in store.read("seen").collect()} and \
        store.read("completions").count() == n + 1
    # the n discovered pages fetch in one paced partition: at least
    # (n-1) gaps of the DECLARED 0.8s — 16x what the config default
    # would mandate — must elapse
    assert wall >= (n - 1) * 0.8
