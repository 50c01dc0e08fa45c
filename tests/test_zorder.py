"""Z-order clustering (operators/zorder.py)."""

import random

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators.zorder import (
    interleave_bits,
    zorder_value,
    zrank,
)


def _morton_ref(xs: list[int], bits: int) -> int:
    z = 0
    for b in range(bits):
        for j, x in enumerate(xs):
            z |= ((x >> b) & 1) << (b * len(xs) + j)
    return z


def test_interleave_matches_reference(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.randrange(1 << 16), rng.randrange(1 << 16))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        r["id"]: r["z"]
        for r in df.select(
            "id",
            interleave_bits([F.col("x"), F.col("y")], 16).alias("z"),
        ).collect()
    }
    for i, x, y in rows:
        assert got[i] == _morton_ref([x, y], 16)


def test_interleave_three_dims_and_guards(spark):
    df = spark.createDataFrame([(1, 2, 3, 4)], "id long, x long, y long, w long")
    r = df.select(
        interleave_bits([F.col("x"), F.col("y"), F.col("w")], 8).alias("z")
    ).collect()[0]["z"]
    assert r == _morton_ref([2, 3, 4], 8)
    with pytest.raises(ValueError, match=">= 2 columns"):
        interleave_bits([F.col("x")])
    with pytest.raises(ValueError, match="<= 63"):
        interleave_bits([F.col("x")] * 4, 16)


def test_zrank_clamps_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.0), (3, 50.0), (4, 100.0), (5, 250.0), (6, None)],
        "id long, v double",
    )
    got = {
        r["id"]: r["r"]
        for r in df.select(
            "id", zrank(F.col("v"), 0.0, 100.0, bits=8).alias("r")
        ).collect()
    }
    assert got[1] == 0  # below lo saturates
    assert got[2] == 0
    assert got[3] == 128  # 50/100 * 256
    assert got[4] == 255  # v == hi saturates to 2^bits - 1
    assert got[5] == 255
    assert got[6] == 0  # NULL clusters at the origin
    with pytest.raises(ValueError, match="hi > lo"):
        zrank(F.col("v"), 5.0, 5.0)


def test_zorder_value_deterministic_across_partitioning(spark):
    rows = [(i, float(i % 97), float((i * 7) % 53)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    expr = lambda d: d.select(  # noqa: E731
        "id",
        zorder_value([(F.col("a"), 0.0, 97.0), (F.col("b"), 0.0, 53.0)]).alias("z"),
    )
    a = {tuple(r) for r in expr(df.repartition(1)).collect()}
    b = {tuple(r) for r in expr(df.repartition(7)).collect()}
    assert a == b
