"""SparkSession factory with scale-oriented defaults.

Centralizes the configs that matter at 100 TB: AQE (runtime re-planning,
skew-join splitting, partition coalescing), Arrow for every pandas-UDF
boundary, and sane shuffle-partition defaults for local testing that a
cluster deployment would override via spark-submit --conf.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] sandbox; on a real cluster these are
# overridden by spark-submit. AQE coalesces the 2x-cores shuffle
# partitions down when maps are small, and splits skewed reduce
# partitions when a hot blocking key explodes.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # default 64m coalesces Arrow-UDF stages down to a handful of
    # partitions, starving Python-side parallelism; pandas-UDF work is
    # CPU-bound per row, not shuffle-bound, so aim smaller
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    # Shuffle/spill compression codec. MEASURED on this sandbox
    # (interleaved A/B, 40k-entity ER pipeline): zstd level 1 is
    # ~1.7x SLOWER than lz4 at both 4 and 16 cores — the host throttles
    # CPU, so zstd's extra cycles cost more than its bandwidth saving
    # here. On a real cluster (network-bound shuffle) zstd is usually
    # the right trade: pass it in get_spark's extra_conf or spark-submit.
    "spark.io.compression.codec": "lz4",
    "spark.io.compression.zstd.level": "1",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def default_driver_memory() -> str:
    """`SPARK_GRAFT_DRIVER_MEM` if set (read per call, so a value set
    after import counts), else half of physical RAM capped at 64g.
    Single-JVM local mode: the "driver" heap is the whole cluster's
    memory, so it is sized like an executor fleet, but never past what
    the host has."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 64 * 1024)}m"


def get_spark(
    app_name: str = "er-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    `master` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]); a
    cluster deployment passes master via spark-submit and this function
    leaves it untouched.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS, **{"spark.driver.memory": default_driver_memory()})
    # shuffle partitions track the core count (2x cores, like a cluster
    # sized via spark-submit): at local[4] 32 partitions is pure task-
    # scheduling overhead per stage; at local[32] 64 gives AQE headroom
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:
        conf["spark.sql.shuffle.partitions"] = str(max(8, 2 * int(m.group(1))))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
