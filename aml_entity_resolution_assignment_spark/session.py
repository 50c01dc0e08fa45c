"""SparkSession factory with scale-oriented defaults.

Centralizes the configs that matter at 100 TB: AQE (runtime re-planning,
skew-join splitting, partition coalescing), Arrow for every pandas-UDF
boundary, and sane shuffle-partition defaults for local testing that a
cluster deployment would override via spark-submit --conf.

Case mappings. Spark's default `spark.sql.icu.caseMappings.enabled=true`
sends `lower()`/`upper()` through ICU. The first such call in a JVM
loads `CollationAwareUTF8String`, whose static initializer runs ICU
`toTitleCase` over all 1,114,112 code points to fill a title-case table
that only `initcap` reads; it does so even for pure-ASCII input. The
engine's JVM normalizers (hostname, url, body text, email) call
`lower()`, so every cold session paid for that table in its first keyed
stage or ER query: 0.86 s on a 4-core host (`tools/cold_probe.py`, the
`lower` row's `extra_s`; 0.05 s with the default below). The engine
default is `false` (CASE_MAPPINGS): `lower()` and `upper()` then take
`UTF8String`'s ASCII fast path, and `String.toLowerCase()` /
`toUpperCase()` for any other string.

The two paths agree on ASCII (every shipped `documents` table is 100%
ASCII), on final sigma, U+0130 and ß. Over all 1,112,064 scalar code
points (each in a "c Ac?c" context) they differ only on letters added
in Unicode 14-16, which ICU case-maps and the JDK 17 tables leave as
they are: `lower()` on 67 capitals (U+1C89, U+2C2F, U+A7C0-U+A7DC,
U+10570-U+10595, U+10D50-U+10D65 ...), `upper()` on their 67 small
partners. `tests/test_normalize.py` pins both lists.

Both paths follow the JVM's default locale: Spark's ICU path calls ICU
with it, so under a Turkish or Azerbaijani locale both lowercase I to
dotless ı, and under Lithuanian both keep the dot on i before an
accent. Turning ICU back on for those locales would change no output
outside the Unicode 14-16 band above (under Lithuanian, also the 62
combining marks of that band after an I), so the default holds for
every locale.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable

from pyspark import SparkConf
from pyspark.sql import SparkSession

CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"

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
    # JVM case mappings: see the module docstring
    CASE_MAPPINGS: "false",
}


def missing_defaults(conf: SparkConf, keys: Iterable[str]) -> dict[str, str]:
    """The engine defaults among `keys` that `conf` does not set. A key
    `conf` already holds (say, from spark-submit --conf) is left out,
    so applying the result never overrides the deployment."""
    return {k: _DEFAULTS[k] for k in keys if not conf.contains(k)}


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

    `master` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]). The
    engine defaults and `master` are set on the builder, so they
    override a spark-submit conf; a cluster job builds its session as
    `jobs/run_er_pipeline.py` does, applying only `missing_defaults`.
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
