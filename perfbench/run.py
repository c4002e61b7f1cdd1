"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 15 --trace 0

Workloads: ``crawl_bulk`` and ``crawl_default`` (crawl.py) and
``query_suite`` (suite.py, which also needs ``--sf-dir``). Each run is a
closed loop with one client, in one driver process at ``local[N]`` with N
the usable core count. The run checks the program's outputs, writes its
full record to ``perfbench/out/`` and prints one summary line per metric,
then, as the last line, a JSON headline:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's layers with spans, turns on Spark's event log, and reports the
per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
PROGRAM = ("__spark_entry__.py",
           os.path.join("spacetime_crawler4py_spark", "streaming", "epochs.py"))
DRIVER_MEMORY = "3g"  # the box has 15 GB, shared

# name -> unit; the headline carries these, in this order
END_TO_END = {
    "crawl": {"crawl_urls_per_s": "urls/s", "epoch_s_p50": "s",
              "setup_s": "s", "store_mb": "MB"},
    "suite": {"suite_s": "s", "setup_s": "s", "cpu_s": "s",
              "peak_rss_mb": "MB"},
}
PER_LAYER = {
    "crawl": {
        "parse.pages_per_core_s": "pages/s", "parse.fetch_render_s": "s",
        "parse.html_s": "s", "parse.is_valid_s": "s", "parse.urlkit_s": "s",
        "dequeue.scan_s": "s",
        "store.append.frontier_s": "s", "store.append.seen_s": "s",
        "store.append.completions_s": "s", "store.append.documents_s": "s",
        "store.append.fetch_log_s": "s", "store.commits": "count",
        "store.bytes_written": "bytes",
        "bloom.build_s": "s", "bloom.merge_s": "s",
        "engine.init_s": "s", "engine.fetch_parse_job_s": "s",
        "engine.spark_jobs_per_epoch": "count", "engine.driver_s": "s",
        "spark.shuffle_write_bytes": "bytes", "spark.gc_s": "s",
        "spark.task_skew": "ratio", "trace.attributed_frac": "ratio",
    },
    "suite": {"suite.traced_s": "s"},
}
# reported in the summary lines and the record, not in the headline;
# cpu_s and peak_rss_mb vary too much between runs on a shared host to
# gate on (see README)
EXTRA_UNITS = {
    "cpu_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio", "parse.sketch_s": "s",
    "parse.outlinks_per_page": "count", "parse.valid_link_frac": "ratio",
    "dequeue.rows": "count", "store.append.fingerprints_s": "s",
    "store.compact_s": "s", "store.compact_tail_s": "s",
    "store.max_paths": "count", "bloom.fill_rate": "ratio",
    "engine.new_urls_per_epoch": "count", "engine.near_dup_frac": "ratio",
    "spark.spill_bytes": "bytes", "trace.epoch_s": "s",
    "trace.unattributed_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_bulk", "crawl_default", "query_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="query_suite input tables (env SPARK_GRAFT_SF_DIR)")
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the smoke test")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers inside ``work``, and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    path = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in path if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
    })


def start_spark(work: str, cores: int, event_log: str | None):
    from spacetime_crawler4py_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it; its
    Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tracing_overhead(record: dict) -> dict:
    """Traced end-to-end figures against the median of the untraced
    records in ``out/`` of the same workload and inputs (empty if there
    are none)."""
    untraced: dict[str, list[float]] = {}
    same = ("workload", "seconds", "smoke", "spec", "sf_dir")
    for path in glob.glob(os.path.join(OUT, "*-trace0.json")):
        with open(path, encoding="utf-8") as fh:
            other = json.load(fh)
        if all(other.get(k) == record.get(k) for k in same):
            for k, v in other["metrics"].items():
                untraced.setdefault(k, []).append(v)
    traced = record["metrics"]
    return {
        k: traced[k] / statistics.median(v) - 1
        for k, v in untraced.items()
        if k in traced and statistics.median(v)
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    if args.workload == "query_suite" and not args.sf_dir:
        print("perfbench: query_suite needs --sf-dir", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    kind = "suite" if args.workload == "query_suite" else "crawl"
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    spark = None
    try:
        import host

        t = time.perf_counter()
        spark = start_spark(work, host.nproc(), event_log)
        session_s = time.perf_counter() - t
        if kind == "crawl":
            import crawl

            specs = crawl.SMOKE if args.smoke else crawl.WORKLOADS
            if tracer is not None:
                crawl.instrument(tracer, spark)
            result = crawl.run(spark, specs[args.workload], args.seed,
                               args.seconds, work, session_s, tracer,
                               event_log)
        else:
            import suite

            result = suite.run(spark, args.sf_dir, args.seed, session_s,
                               traced=bool(args.trace))
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    layers = result.get("layers", {}).get("metrics", {})
    known = {**END_TO_END[kind], **PER_LAYER[kind], **EXTRA_UNITS}
    units = {  # per-query suite layers are all times
        k: known.get(k, "s") for k in {**metrics, **layers}
    }
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"], "metrics": metrics, "layers": layers,
        "units": units, **result["record"],
    }
    if args.trace:
        record["tracing_overhead"] = tracing_overhead(record)
        record["attribution"] = {
            k: v for k, v in result.get("layers", {}).items() if k != "metrics"
        }
    os.makedirs(OUT, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        OUT, f"{args.workload}-{stamp}-s{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    for name, value in {**metrics, **layers}.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    print(f"{args.workload} record: {os.path.relpath(path, ROOT)}")
    shown = PER_LAYER[kind] if args.trace else END_TO_END[kind]
    source = layers if args.trace else metrics
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": source[k], "unit": u}
                    for k, u in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
