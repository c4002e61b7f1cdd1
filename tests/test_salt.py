"""The frontier's salt column has one definition, ``plans.dequeue.salt_of``
plus its Column twin ``salt_col``, and it is the same in every process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from spacetime_crawler4py_spark.functions.urlkit import url_hash
from spacetime_crawler4py_spark.plans.dequeue import SALT_BUCKETS, salt_col, salt_of
from spacetime_crawler4py_spark.sources.store import SnapshotStore
from spacetime_crawler4py_spark.sources.webgen import generate_web
from spacetime_crawler4py_spark.streaming.epochs import CrawlEngine, EngineConfig

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
URLS = [f"https://d{i % 7}.ics.uci.edu/p/{i}?q={i * 31}" for i in range(200)]


def test_salt_twins_agree(spark):
    hashes = [url_hash(u) for u in URLS]
    df = spark.createDataFrame([(h,) for h in hashes], "url_hash string")
    got = dict(
        df.select("url_hash", salt_col(F.col("url_hash")).alias("salt")).collect()
    )
    assert got == {h: salt_of(h) for h in hashes}
    assert set(got.values()) == set(range(SALT_BUCKETS))


def test_seed_salts_match_a_fresh_process(spark, tmp_path):
    web = generate_web(n_pages=10, seed=3)
    web_df = spark.createDataFrame(
        web.to_rows(),
        "url string, status int, final_url string, content_type string, "
        "payload binary, domain string",
    )
    store = SnapshotStore(spark, str(tmp_path / "store"))
    CrawlEngine(spark, store, web_df, EngineConfig(ordering="exact")).seed(URLS)
    seeded = {r.url: r.salt for r in store.read("frontier").collect()}
    assert len(seeded) == len(URLS)

    # a new interpreter with its own hash randomization must agree
    code = (
        "import json, sys\n"
        "from spacetime_crawler4py_spark.functions.urlkit import url_hash\n"
        "from spacetime_crawler4py_spark.plans.dequeue import salt_of\n"
        "urls = json.load(sys.stdin)\n"
        "print(json.dumps({u: salt_of(url_hash(u)) for u in urls}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=json.dumps(list(seeded)),
        capture_output=True, text=True, check=True, cwd=REPO_DIR,
        env={**os.environ, "PYTHONHASHSEED": "random"},
    )
    assert json.loads(out.stdout) == seeded
