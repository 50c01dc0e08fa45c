"""SemDeDup (embedding-clustered near-dup pruning): the pair search
runs only within k-means cells, so these tests pin (a) exactness when
clustering is trivial, (b) recall on genuinely clustered data under
bounded clusters, (c) determinism / invariance, (d) plan shape."""

import numpy as np
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import dedup as D


def _clustered(spark, n=240, dim=16, groups=6, dup_every=4, seed=3):
    """groups well-separated centers; every dup_every-th vector is a
    near-copy of its predecessor (the planted near-dups)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = rng.standard_normal((groups, dim)) * 6.0
    rows = []
    prev = None
    for i in range(n):
        if prev is not None and i % dup_every == 0:
            v = prev + rng.standard_normal(dim) * 0.01
        else:
            v = centers[i % groups] + rng.standard_normal(dim) * 0.5
        rows.append((i, v.tolist()))
        prev = v
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _exact_pairs(spark, df, t):
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    from aml_entity_resolution_assignment_spark.operators.ann import (
        cosine_similarity_col,
    )

    return {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine_similarity_col(F.col("_va"), F.col("_vb")) >= t)
        .collect()
    }


def test_single_cluster_equals_exact_threshold(spark):
    df = _clustered(spark, n=80)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.semdedup_pairs(
            df, n_clusters=1, min_cosine=0.95, sample=80
        ).collect()
    }
    assert got == _exact_pairs(spark, df, 0.95)
    assert got  # planted near-dups exist


def test_clustered_recall_and_no_false_positives(spark):
    df = _clustered(spark)
    exact = _exact_pairs(spark, df, 0.95)
    got = {
        (r["id_a"], r["id_b"])
        for r in D.semdedup_pairs(
            df, n_clusters=6, min_cosine=0.95, sample=240
        ).collect()
    }
    # every reported pair is a true >= t pair (the verify is exact) ...
    assert got <= exact
    # ... and near-copies land in the same cell: high recall
    assert len(got) / len(exact) >= 0.9


def test_pairs_feed_keep_best(spark):
    df = _clustered(spark, n=60).withColumn(
        "quality", (F.col("vec_id") % 7).cast("double")
    )
    pairs = D.semdedup_pairs(df, n_clusters=3, min_cosine=0.95, sample=60)
    kept = D.dedup_keep_best(df, pairs, "vec_id", "quality")
    n_pairs = pairs.count()
    assert 0 < kept.count() < 60 or n_pairs == 0
    assert n_pairs > 0


def test_partitioning_invariance_and_determinism(spark):
    df = _clustered(spark, n=120)
    runs = []
    for parts in (1, 7):
        runs.append(
            {
                (r["id_a"], r["id_b"])
                for r in D.semdedup_pairs(
                    df.repartition(parts),
                    n_clusters=4,
                    min_cosine=0.95,
                    sample=120,
                ).collect()
            }
        )
    assert runs[0] == runs[1]


def test_max_cluster_caps_right_side(spark):
    df = _clustered(spark, n=120)
    capped = D.semdedup_pairs(
        df, n_clusters=4, min_cosine=0.95, sample=120, max_cluster=10
    )
    full = D.semdedup_pairs(df, n_clusters=4, min_cosine=0.95, sample=120)
    assert capped.count() <= full.count()
    # capped pairs only lose id_b > cap-rank members, never gain
    cset = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    fset = {(r["id_a"], r["id_b"]) for r in full.collect()}
    assert cset <= fset


def test_plan_is_equi_join_on_cell(spark):
    df = _clustered(spark, n=60)
    out = D.semdedup_pairs(df, n_clusters=4, min_cosine=0.9, sample=60)
    jvm = spark._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)  # noqa: SLF001
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
