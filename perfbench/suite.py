"""The query_suite workload: every query of ``__spark_entry__.queries()``.

An untimed pass collects each query's rows and compares its row count and
an order-independent content hash with the values pinned for the dataset
in ``suite_pins.json``. The timed pass then fully materializes every
query with the ``noop`` sink (``count()`` would prune unused projection
columns) in an order drawn from the seed, and ``suite_s`` is the sum.

Pins are written once per dataset, from a tree whose outputs were
checked by other means (e.g. the DuckDB oracle gate):

    python3 perfbench/suite.py --write-pins --sf-dir DIR
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import host

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "suite_pins.json")
WARMUP = ("top_words", "url_seen_hash")
# projection queries whose UDF columns count() would skip
PROJECTION = ("url_seen_hash", "is_valid_filter", "canonicalize")


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}"
                              for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, tuple):  # Row
        return "(" + ",".join(_cell(x) for x in v) + ")"
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (datetime.date, decimal.Decimal)):
        return str(v)
    return str(v)


def content(df) -> list:
    """[row count, hash of the sorted rows with columns sorted by name]."""
    order = sorted(range(len(df.columns)), key=lambda i: df.columns[i])
    lines = sorted(
        "\x1f".join(_cell(r[i]) for i in order) for r in df.collect()
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return [len(lines), h]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _key(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _load_pins() -> dict:
    if not os.path.exists(PINS):
        return {}
    with open(PINS, encoding="utf-8") as fh:
        return json.load(fh)


def run(spark, sf_dir: str, seed: int, session_s: float, traced: bool) -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    t = time.perf_counter()
    for name in WARMUP:
        noop(qs[name](spark, sf_dir))
    warm_s = time.perf_counter() - t

    pins = _load_pins().get(_key(sf_dir), {})
    failures: dict[str, str] = {}
    for name, q in qs.items():
        try:
            got = content(q(spark, sf_dir))
        except Exception as e:  # a query that raises counts as failed
            failures[name] = repr(e)[:200]
            continue
        if got != pins.get(name):
            failures[name] = f"rows/hash {got} != pinned {pins.get(name)}"

    order = sorted(qs)
    random.Random(seed).shuffle(order)
    times: dict[str, float] = {}
    with host.Sampler() as sampler:
        t0 = time.time()
        for name in order:
            t = time.perf_counter()
            try:
                noop(qs[name](spark, sf_dir))
            except Exception as e:
                failures.setdefault(name, repr(e)[:200])
                continue
            times[name] = time.perf_counter() - t
        t1 = time.time()
    weather = sampler.window(t0, t1)
    suite_s = sum(times.values())
    metrics = {
        "suite_s": suite_s,
        "setup_s": session_s + warm_s,
        "cpu_s": weather["cpu_s"],
        "peak_rss_mb": weather["peak_rss_mb"],
        "failed_frac": len(failures) / len(qs),
    }
    result = {
        "attempted": len(qs), "failed": len(failures),
        "correct": not failures, "metrics": metrics,
        "record": {
            "sf_dir": _key(sf_dir), "order": order, "query_s": times,
            "failures": failures,
            "host": {**weather, "loadavg": host.loadavg(),
                     "nproc": host.nproc()},
        },
    }
    if traced:
        layers = {"suite.traced_s": suite_s}
        layers.update({f"query.{n}_s": s for n, s in times.items()})
        for name in PROJECTION:  # the count-vs-noop gap, median of 3
            for how, act in (("count", lambda df: df.count()), ("noop", noop)):
                reps = []
                for _ in range(3):
                    t = time.perf_counter()
                    act(qs[name](spark, sf_dir))
                    reps.append(time.perf_counter() - t)
                layers[f"gap.{name}.{how}_s"] = statistics.median(reps)
        result["layers"] = {"metrics": layers}
    return result


def write_pins(sf_dir: str) -> None:
    import run as bench

    work = os.path.join(bench.HERE, "work", f"pins-{os.getpid()}")
    bench.prepare_env(work)
    sys.path.insert(0, bench.ROOT)
    spark = bench.start_spark(work, host.nproc(), None)
    try:
        import __spark_entry__ as entry

        got = {n: content(q(spark, sf_dir)) for n, q in entry.queries().items()}
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    pins = _load_pins()
    pins[_key(sf_dir)] = got
    with open(PINS, "w", encoding="utf-8") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="pin query_suite outputs")
    ap.add_argument("--write-pins", action="store_true", required=True)
    ap.add_argument("--sf-dir", required=True)
    write_pins(ap.parse_args().sf_dir)
