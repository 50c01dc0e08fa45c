"""Sorted-neighborhood blocking (operators/blocking.py:sorted_neighborhood_pairs)."""

import random

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import blocking as B


def _python_snm(rows, window):
    srt = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i, (ida, _) in enumerate(srt):
        for d in range(1, window):
            if i + d < len(srt):
                idb = srt[i + d][0]
                out.add((min(ida, idb), max(ida, idb), d))
    return out


def test_matches_python_oracle(spark):
    rng = random.Random(3)
    rows = [(i, "".join(rng.choices("abcd", k=4))) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, k string")
    got = {
        tuple(r)
        for r in B.sorted_neighborhood_pairs(df, "k", "id", window=4).collect()
    }
    assert got == _python_snm(rows, 4)


def test_pair_count_is_skew_free(spark):
    """(w-1)*N - w*(w-1)/2 pairs regardless of key distribution — the
    property that makes SNM safe under hot keys."""
    n, w = 500, 5
    # pathological skew: 80% of records share one key
    rows = [(i, "hot" if i % 5 else f"k{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "id long, k string")
    cnt = B.sorted_neighborhood_pairs(df, "k", "id", window=w).count()
    assert cnt == (w - 1) * n - w * (w - 1) // 2


def test_recovers_typod_neighbors(spark):
    """Records whose keys differ only in the final char sort adjacent,
    so SNM pairs them even though exact-key blocking would not."""
    df = spark.createDataFrame(
        [(1, "smith"), (2, "smitj"), (3, "aaaaa"), (4, "zzzzz")],
        "id long, k string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in B.sorted_neighborhood_pairs(df, "k", "id", window=2).collect()
    }
    assert (1, 2) in pairs


def test_partitioning_invariant(spark):
    rng = random.Random(11)
    rows = [(i, "".join(rng.choices("xy", k=3))) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k string")
    a = sorted(
        map(tuple, B.sorted_neighborhood_pairs(df.repartition(1), "k", "id", 4).collect())
    )
    b = sorted(
        map(tuple, B.sorted_neighborhood_pairs(df.repartition(7), "k", "id", 4).collect())
    )
    assert a == b


def test_null_keys_excluded_and_window_validation(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, k string"
    )
    got = B.sorted_neighborhood_pairs(df, "k", "id", window=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 3)}
    with pytest.raises(ValueError):
        B.sorted_neighborhood_pairs(df, "k", "id", window=1)


def test_no_single_reducer_global_window(spark):
    """The plan must not shuffle everything to one task: a naive
    row_number() over a global ORDER BY shows up as an Exchange
    SinglePartition feeding the Window — the two-phase rank must not."""
    df = spark.createDataFrame([(i, f"k{i}") for i in range(50)], "id long, k string")
    plan = (
        B.sorted_neighborhood_pairs(df, "k", "id", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition rank window is there
