"""SparkSession factory tuned for the crawl workload.

Defaults assume local[N] testing but every knob is the one you would set on
a 1000-executor cluster: AQE on (skew-join splitting as the second line of
defense behind explicit domain salting), shuffle partitions sized to cores,
Arrow enabled for every pandas UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spacetime-crawler4py-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this is
        # set to 2-3x total cores (or left to AQE coalescing).
        shuffle_partitions = cpus
    # size JVM-internal pools (GC, netty, fork-join) for the granted core
    # count, not the machine's: a local[N] run pinned/entitled to N cores
    # otherwise gets 32-wide GC + IO pools that thrash inside its allotment
    n_cores = master.removeprefix("local[").rstrip("]") if master.startswith("local[") else str(cpus)
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    if n_cores.isdigit():
        java_opts = f"-XX:ActiveProcessorCount={n_cores} {java_opts}".strip()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the integer-exact operators rely on overflow and invalid casts
        # raising; pinned so a deployment default cannot silently flip it
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
