"""Fellegi-Sunter EM linkage (operators/fellegi.py).

Covers: EM parameter recovery on data generated from known (lam, m, u);
pattern-count reduction; weight/posterior algebra; determinism across
partitionings; the broadcast scoring plan.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import fellegi as FS

FIELDS = ["g1", "g2", "g3"]


def _synth_pairs(spark, n=4000, lam=0.2, m=(0.95, 0.9, 0.8), u=(0.1, 0.2, 0.05), seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        is_match = rng.random() < lam
        probs = m if is_match else u
        g = tuple(1 if rng.random() < p else 0 for p in probs)
        rows.append((i, i + n) + g)
    return spark.createDataFrame(
        rows, "id_a long, id_b long, g1 int, g2 int, g3 int"
    )


def test_pattern_counts_bounded(spark):
    df = _synth_pairs(spark)
    pats = FS.pattern_counts(df, FIELDS)
    rows = pats.collect()
    assert len(rows) <= 2 ** len(FIELDS)
    assert sum(r["n"] for r in rows) == df.count()


def test_em_recovers_parameters(spark):
    df = _synth_pairs(spark, n=20000)
    pats = [
        (tuple(int(r[f]) for f in FIELDS), int(r["n"]))
        for r in FS.pattern_counts(df, FIELDS).collect()
    ]
    lam, m, u = FS.fs_em(pats, len(FIELDS), iters=60)
    assert abs(lam - 0.2) < 0.05
    for est, true in zip(m, (0.95, 0.9, 0.8)):
        assert abs(est - true) < 0.05
    for est, true in zip(u, (0.1, 0.2, 0.05)):
        assert abs(est - true) < 0.05


def test_weight_and_posterior_algebra(spark):
    """match_weight must equal sum of per-field log2 ratios under the
    fitted params, and posterior the Bayes combination — recomputed
    here independently from the model's own EM output."""
    df = _synth_pairs(spark, n=5000)
    out = FS.fellegi_sunter(df, FIELDS, iters=10)
    pats = [
        (tuple(int(r[f]) for f in FIELDS), int(r["n"]))
        for r in FS.pattern_counts(df, FIELDS).collect()
    ]
    lam, m, u = FS.fs_em(pats, len(FIELDS), iters=10)
    sample = out.limit(200).collect()
    assert sample
    for r in sample:
        w, pm, pu = 0.0, lam, 1.0 - lam
        for j, f in enumerate(FIELDS):
            if r[f]:
                w += math.log2(m[j] / u[j])
                pm *= m[j]
                pu *= u[j]
            else:
                w += math.log2((1 - m[j]) / (1 - u[j]))
                pm *= 1 - m[j]
                pu *= 1 - u[j]
        assert r["match_weight"] == pytest.approx(w, abs=1e-9)
        assert r["posterior"] == pytest.approx(pm / (pm + pu), abs=1e-9)


def test_matches_score_above_nonmatches(spark):
    df = _synth_pairs(spark, n=10000)
    out = FS.fellegi_sunter(df, FIELDS, iters=30)
    agg = out.select(
        F.avg(F.when((F.col("g1") + F.col("g2") + F.col("g3")) == 3, F.col("posterior"))).alias("hi"),
        F.avg(F.when((F.col("g1") + F.col("g2") + F.col("g3")) == 0, F.col("posterior"))).alias("lo"),
    ).collect()[0]
    assert agg["hi"] > 0.9 > 0.1 > agg["lo"]


def test_partitioning_invariant(spark):
    df = _synth_pairs(spark, n=3000)
    a = FS.fellegi_sunter(df, FIELDS, iters=10)
    b = FS.fellegi_sunter(df.repartition(13), FIELDS, iters=10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_scoring_join_is_broadcast(spark):
    df = _synth_pairs(spark, n=1000)
    plan = FS.fellegi_sunter(df, FIELDS, iters=2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_oracle_cte_matches_python_em(spark):
    """The unrolled-SQL twin generator must reproduce fs_em's params
    and scores on the same pattern table (DuckDB, standalone)."""
    duckdb = pytest.importorskip("duckdb")
    df = _synth_pairs(spark, n=4000)
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("pairs_tbl", pdf)
    cte = FS.fs_oracle_cte(FIELDS, "pairs_tbl", iters=10)
    got = con.execute(
        f"with {cte} select * from fs_scores order by g1, g2, g3"
    ).fetchall()
    pats = [
        (tuple(int(r[f]) for f in FIELDS), int(r["n"]))
        for r in FS.pattern_counts(df, FIELDS).collect()
    ]
    lam, m, u = FS.fs_em(pats, len(FIELDS), iters=10)
    for row in got:
        g = tuple(int(x) for x in row[:3])
        w, pm, pu = 0.0, lam, 1.0 - lam
        for j in range(3):
            if g[j]:
                w += math.log2(m[j] / u[j])
                pm *= m[j]
                pu *= u[j]
            else:
                w += math.log2((1 - m[j]) / (1 - u[j]))
                pm *= 1 - m[j]
                pu *= 1 - u[j]
        assert row[3] == pytest.approx(w, abs=1e-9)
        assert row[4] == pytest.approx(pm / (pm + pu), abs=1e-9)


def test_tf_adjustment(spark):
    """Rare-value agreements gain weight, common-value agreements lose
    it, disagreements are untouched; tf_adj = log2(u_global / u_v)."""
    import math as _math

    recs = spark.createDataFrame(
        [(i, "common" if i < 90 else "rare") for i in range(100)],
        "id long, v string",
    )
    scored = spark.createDataFrame(
        [(1, 2, 1, 5.0), (95, 96, 1, 5.0), (1, 95, 0, -3.0)],
        "id_a long, id_b long, g int, match_weight double",
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in FS.tf_adjusted_weights(
            scored, recs, id_col="id", value_col="v", g_col="g",
            u_global=0.5,
        ).collect()
    }
    assert out[(1, 2)]["tf_adj"] == pytest.approx(_math.log2(0.5 / 0.9))
    assert out[(95, 96)]["tf_adj"] == pytest.approx(_math.log2(0.5 / 0.1))
    assert out[(1, 95)]["tf_adj"] == 0.0
    assert out[(95, 96)]["match_weight_tf"] == pytest.approx(
        5.0 + _math.log2(5.0)
    )
    # rare agreement must now outweigh common agreement
    assert out[(95, 96)]["match_weight_tf"] > out[(1, 2)]["match_weight_tf"]


def test_fit_params_matches_inline_em(spark):
    df = _synth_pairs(spark, n=3000)
    direct = FS.fit_params(df, FIELDS, iters=10)
    pats = [
        (tuple(int(r[f]) for f in FIELDS), int(r["n"]))
        for r in FS.pattern_counts(df, FIELDS).collect()
    ]
    assert direct == FS.fs_em(pats, len(FIELDS), iters=10)


def test_fs_em_fix_u_holds_u(spark):
    # fix_u holds u across EM while m/lambda still move
    df = _synth_pairs(spark, n=3000)
    pats = [
        (tuple(int(r[f]) for f in FIELDS), int(r["n"]))
        for r in FS.pattern_counts(df, FIELDS).collect()
    ]
    fixed = [0.1, 0.2, 0.05]
    lam, m, u2 = FS.fs_em(pats, 3, iters=20, fix_u=fixed)
    assert u2 == fixed
    assert abs(lam - 0.2) < 0.1


def test_review_queue_uncertainty_topk(spark):
    """review_queue returns the k pairs nearest posterior 0.5, ties on
    ids, and compiles to TakeOrderedAndProject (per-partition top-k
    merge, never a global sort)."""
    scored = spark.createDataFrame(
        [
            (1, 10, 0.51),  # |0.01|
            (2, 20, 0.10),  # |0.40|
            (3, 30, 0.49),  # |0.01| tie with row 1 -> id order
            (4, 40, 0.95),  # |0.45|
            (5, 50, 0.60),  # |0.10|
        ],
        "id_a long, id_b long, posterior double",
    )
    out = FS.review_queue(scored, k=3).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 10), (3, 30), (5, 50)]
    assert out[0].uncertainty == pytest.approx(0.01)
    plan = (
        FS.review_queue(scored, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def _synth_ml_pairs(spark, n=6000, lam=0.25, seed=11):
    """3-level field, 2-level field, 2-level field with ~15% missing."""
    m = [[0.05, 0.15, 0.8], [0.1, 0.9], [0.2, 0.8]]
    u = [[0.7, 0.2, 0.1], [0.8, 0.2], [0.9, 0.1]]
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        probs = m if rng.random() < lam else u
        g = []
        for j, p in enumerate(probs):
            x, acc, lv = rng.random(), 0.0, 0
            for l_, pl in enumerate(p):
                acc += pl
                if x < acc:
                    lv = l_
                    break
            if j == 2 and rng.random() < 0.15:
                g.append(None)  # missing
            else:
                g.append(lv)
        rows.append((i, i + n, *g))
    return spark.createDataFrame(
        rows, "id_a long, id_b long, g1 int, g2 int, g3 int"
    )


def test_ml_em_recovers_parameters(spark):
    df = _synth_ml_pairs(spark)
    out = FS.fellegi_sunter_multilevel(
        df, ["g1", "g2", "g3"], [3, 2, 2], iters=30
    )
    # recompute the fit to inspect parameters
    pats = [
        (tuple(-1 if r[f] is None else int(r[f]) for f in ["g1", "g2", "g3"]),
         int(r["n"]))
        for r in df.selectExpr(
            "coalesce(g1, -1) g1", "coalesce(g2, -1) g2", "coalesce(g3, -1) g3"
        ).groupBy("g1", "g2", "g3").count()
        .withColumnRenamed("count", "n").collect()
    ]
    lam, m, u = FS.fs_em_multilevel(pats, [3, 2, 2], iters=30)
    assert abs(lam - 0.25) < 0.08
    assert abs(m[0][2] - 0.8) < 0.1 and abs(u[0][0] - 0.7) < 0.1
    assert abs(m[1][1] - 0.9) < 0.1 and abs(u[2][1] - 0.1) < 0.1
    # missing rows carry zero evidence from g3: their weight equals
    # the sum of the g1/g2 terms only
    row = out.where(F.col("g3").isNull()).first()
    expect = sum(
        math.log2(m[j][row[f]] / u[j][row[f]])
        for j, f in enumerate(["g1", "g2"])
    )
    assert row["match_weight"] == pytest.approx(expect, abs=1e-9)


def test_ml_partitioning_invariant(spark):
    df = _synth_ml_pairs(spark, n=3000)
    a = FS.fellegi_sunter_multilevel(df, ["g1", "g2", "g3"], [3, 2, 2])
    b = FS.fellegi_sunter_multilevel(
        df.repartition(13), ["g1", "g2", "g3"], [3, 2, 2]
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ml_oracle_cte_matches_python_em(spark):
    duckdb = pytest.importorskip("duckdb")
    df = _synth_ml_pairs(spark, n=4000)
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("pairs_in", pdf)
    cte = FS.fs_ml_oracle_cte(
        ["g1", "g2", "g3"], [3, 2, 2], "pairs_in", iters=10
    )
    got = con.execute(
        f"with {cte} select * from fs_scores order by g1, g2, g3"
    ).df()
    out = FS.fellegi_sunter_multilevel(
        df, ["g1", "g2", "g3"], [3, 2, 2], iters=10
    )
    want = {
        (r["g1"], r["g2"], r["g3"]): (r["match_weight"], r["posterior"])
        for r in out.selectExpr(
            "coalesce(g1, -1) g1", "coalesce(g2, -1) g2",
            "coalesce(g3, -1) g3", "match_weight", "posterior"
        ).distinct().collect()
    }
    assert len(got) == len(want)
    for _, r in got.iterrows():
        mw, po = want[(int(r.g1), int(r.g2), int(r.g3))]
        assert round(mw, 6) == round(r.match_weight, 6)
        assert round(po, 6) == round(r.posterior, 6)


def test_scored_pattern_counts_matches_per_pair_scoring(spark):
    """The pattern-level view must agree with fellegi_sunter exactly:
    same per-pattern weights/posteriors, and counts that expand to the
    per-pair scored table (the equivalence q_fs_pr_curve rests on)."""
    df = _synth_pairs(spark, n=6000)
    pat = FS.scored_pattern_counts(df, FIELDS, iters=10)
    per_pair = FS.fellegi_sunter(df, FIELDS, iters=10)
    got = {
        tuple(r[f] for f in FIELDS): (r["n"], r["match_weight"], r["posterior"])
        for r in pat.collect()
    }
    want = {
        tuple(r[f] for f in FIELDS): (r["cnt"], r["match_weight"], r["posterior"])
        for r in per_pair.groupBy(
            *FIELDS, "match_weight", "posterior"
        ).agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want
    assert sum(n for n, _, _ in got.values()) == df.count()


def test_pr_curve_weighted_equals_per_pair(spark):
    """pr_curve(weight_col=...) over an aggregate must be bit-identical
    to pr_curve over the expanded per-row table (integer-sum
    equivalence)."""
    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        pr_curve,
    )

    df = _synth_pairs(spark, n=6000)
    scored = FS.fellegi_sunter(df, FIELDS, iters=10)
    agg = scored.groupBy("posterior", "g1").agg(
        F.count("*").cast("long").alias("n")
    )
    a = sorted(
        map(tuple, pr_curve(scored, truth_col="g1").collect())
    )
    b = sorted(
        map(
            tuple,
            pr_curve(agg, truth_col="g1", weight_col="n").collect(),
        )
    )
    assert a == b
