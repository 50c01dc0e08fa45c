"""Session defaults that depend on the host."""

import os

from pyspark import SparkConf

from aml_entity_resolution_assignment_spark.session import (
    CASE_MAPPINGS,
    default_driver_memory,
    missing_defaults,
)


def test_default_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mem[:-1]) <= min(phys_mb, 64 * 1024)


def test_driver_memory_env_set_after_import_is_honoured(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_get_spark_session_uses_jvm_case_mappings(spark):
    assert spark.conf.get(CASE_MAPPINGS) == "false"


def test_missing_defaults_leave_keys_the_conf_sets():
    aqe = "spark.sql.adaptive.enabled"
    skew = "spark.sql.adaptive.skewJoin.enabled"
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    keys = (aqe, skew, arrow, CASE_MAPPINGS)
    conf = SparkConf(loadDefaults=False).set(aqe, "false").set(CASE_MAPPINGS, "true")
    assert missing_defaults(conf, keys) == {skew: "true", arrow: "true"}
    assert conf.get(aqe) == "false" and conf.get(CASE_MAPPINGS) == "true"
    assert missing_defaults(SparkConf(loadDefaults=False), keys) == {
        aqe: "true", skew: "true", arrow: "true", CASE_MAPPINGS: "false",
    }


def test_cold_probe_prints_every_probe(tmp_path):
    """tools/cold_probe.py runs in a fresh session and prints one JSON
    line with first, second and extra seconds per probe."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "cold_probe.py")],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    r = json.loads(out.stdout.strip().splitlines()[-1])
    assert r["master"] == "local[2]" and r["rows"] == 2000 and r[CASE_MAPPINGS] == "false"
    assert list(r["probes"]) == [
        "baseline", "lower", "regexp_replace", "try_parse_url", "levenshtein",
        "collect_list_generators", "window", "parquet_write",
        "create_dataframe_pandas", "pandas_udf",
    ]
    for p in r["probes"].values():
        assert p["first_s"] > 0 and p["second_s"] > 0
        assert abs(p["extra_s"] - (p["first_s"] - p["second_s"])) < 2e-3
