"""The registered ER-core queries against their DuckDB oracle twins at
sf0.001, canonicalized exactly as the full oracle sweep does
(tools/check_oracles.py) — a drift in the candidate operator, the pair
features, the F-S family or the clustering kernels fails here."""

import glob
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry
from tools import check_oracles

# the sf0.001 sibling of the oracle sweep's default data directory
SF = os.path.join(os.path.dirname(check_oracles.SF), "sf0.001")

NAMES = [
    "candidate_pairs", "pair_features", "rule_cascade",
    "connected_components", "cluster_cohesion", "hac_single",
    "cluster_sweep", "fs_pr_curve", "eval_prf",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in check_oracles.TABLES:
        c.execute(
            f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')"
        )
    yield c
    c.close()


def _canon(df):
    return check_oracles.canon(df.sort_index(axis=1))


@pytest.mark.parametrize("name", NAMES)
def test_er_core_query_matches_oracle(spark, con, name):
    got = _canon(entry.queries()[name](spark, SF).toPandas())
    want = _canon(con.execute(entry.oracle_sql()[name]).df())
    assert len(got) > 0
    assert list(got.columns) == list(want.columns)
    assert got.shape == want.shape
    assert (got.astype(str).values == want.astype(str).values).all()


def _documents_dirs():
    """Every directory holding a documents table the queries run on:
    the oracle data sets and the benchmark's source copy."""
    here = os.path.dirname(os.path.abspath(entry.__file__))
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(check_oracles.SF), "sf*")))
    return [d for d in dirs if os.path.exists(f"{d}/documents.parquet")] + [
        os.path.join(here, "perfbench", "data")
    ]


def test_docs_declared_schema_matches_files(spark):
    dirs = _documents_dirs()
    assert len(dirs) >= 2
    for d in dirs:
        inferred = spark.read.parquet(f"{d}/documents.parquet").schema
        assert entry._docs(spark, d).schema == inferred, d


def test_docs_read_starts_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("docs-read", "documents read")
    try:
        cols = entry._docs(spark, SF).columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert cols == ["doc_id", "text", "lang", "source", "n_chars"]
    assert len(sc.statusTracker().getJobIdsForGroup("docs-read")) == 0


def test_connected_components_labels_numeric_min(spark, tmp_path):
    """Ids that straddle a digit boundary inside one component ({9, 10},
    {99, 100}): the label is the numeric min member, as in the oracle,
    not the string min."""
    docs = pd.DataFrame({
        "doc_id": [8, 9, 10, 11, 99, 100],
        "lang": ["en", "de", "de", "en", "fr", "fr"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    got = _canon(
        entry.queries()["connected_components"](spark, str(tmp_path)).toPandas()
    )
    c = duckdb.connect()
    c.register("documents", docs)
    want = _canon(c.execute(entry.oracle_sql()["connected_components"]).df())
    c.close()
    assert list(got.columns) == list(want.columns)
    assert got.shape == want.shape
    assert (got.astype(str).values == want.astype(str).values).all()
    assert dict(zip(want["doc_id"], want["component"])) == {
        8: 8, 9: 9, 10: 9, 11: 11, 99: 99, 100: 99,
    }
