"""Smoke test of the benchmark command on tiny inputs.

Runs every workload once per trace mode through the real command line
and checks the contract of its output: every metric named with its unit,
a headline line short enough for a 2,000-character log tail, and no
Spark progress bars on stdout. ``query_suite`` needs the contract tables
at sf0.001 in ``SPARK_GRAFT_SF_DIR``; it is skipped without them.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "")

CASES = [
    ("crawl_bulk", 0), ("crawl_bulk", 1),
    ("crawl_default", 0), ("crawl_default", 1),
    ("query_suite", 0), ("query_suite", 1),
]


@pytest.mark.parametrize("workload,trace", CASES)
def test_command_reports_every_metric(workload, trace):
    if workload == "query_suite" and not os.path.isdir(SF_DIR):
        pytest.skip("SPARK_GRAFT_SF_DIR does not point at the sf0.001 tables")
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--smoke",
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace)]
    if workload == "query_suite":
        cmd += ["--sf-dir", SF_DIR]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "[Stage" not in proc.stdout  # spark.ui.showConsoleProgress=false
    headline = proc.stdout.rstrip("\n").split("\n")[-1]
    assert len(headline) < 2000
    head = json.loads(headline)
    assert set(head) == {"correct", "attempted", "failed", "metrics"}
    assert head["correct"] is True and head["failed"] == 0
    assert head["attempted"] >= 1
    kind = "suite" if workload == "query_suite" else "crawl"
    want = (run.PER_LAYER if trace else run.END_TO_END)[kind]
    assert {k: v["unit"] for k, v in head["metrics"].items()} == want
    for v in head["metrics"].values():
        assert isinstance(v["value"], (int, float))
    # every metric the run measured also appears in a summary line
    record_line = [ln for ln in proc.stdout.splitlines() if " record: " in ln]
    with open(os.path.join(ROOT, record_line[-1].split(" record: ")[1]),
              encoding="utf-8") as fh:
        record = json.load(fh)
    for name in {**record["metrics"], **record["layers"]}:
        assert f"{workload} {name} = " in proc.stdout
        assert name in record["units"]


def test_bare_directory_fails(tmp_path):
    """Without the program beside it the command must fail, print no
    result, and stop quickly."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(BENCH):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(BENCH, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
