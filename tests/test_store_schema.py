"""The snapshot store's manifest records each table's schema, and reads
declare it: a read of any table launches no Spark job (schema inference
would launch one per read to open a parquet footer)."""

from __future__ import annotations

from spacetime_crawler4py_spark.sources.store import SnapshotStore
from spacetime_crawler4py_spark.streaming.epochs import ARROW_SCHEMAS


def _jobs(spark) -> set[int]:
    """Ids of the jobs Spark has run outside any job group, once every
    pending listener event has been processed."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_reads_launch_no_job(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    # a multi-delta table mixing both write paths: Spark appends and
    # driver-side pyarrow appends
    for i in range(3):
        store.append("completions", spark.createDataFrame(
            [(f"h{i}", i)], "url_hash string, round bigint"
        ))
        store.append_rows(
            "completions", [{"url_hash": f"r{i}", "round": i}],
            ARROW_SCHEMAS["completions"],
        )
    assert len(store._load_manifest("completions")["paths"]) == 6
    before = _jobs(spark)
    full = store.read("completions")
    last = store.read_last_delta("completions")
    assert _jobs(spark) == before
    assert full.columns == last.columns == ["url_hash", "round"]
    assert sorted(r.url_hash for r in full.collect()) == [
        "h0", "h1", "h2", "r0", "r1", "r2",
    ]
    assert [tuple(r) for r in last.collect()] == [("r2", 2)]
