"""PR-curve and calibration operators (operators/evaluate.py) and the
mutual-best 1:1 linkage join (operators/joins.py)."""

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators.evaluate import (
    calibration_bins,
    pr_curve,
)
from aml_entity_resolution_assignment_spark.operators.joins import (
    mutual_best_match,
)


def _scored(spark):
    # 6 pairs, two distinct scores: 0.9 (2 true, 1 false), 0.2 (1 true, 2 false)
    rows = [
        (1, 2, 0.9, 1), (3, 4, 0.9, 1), (5, 6, 0.9, 0),
        (7, 8, 0.2, 1), (9, 10, 0.2, 0), (11, 12, 0.2, 0),
    ]
    return spark.createDataFrame(
        rows, "id_a long, id_b long, posterior double, is_match int"
    )


def test_pr_curve_values(spark):
    out = {r.threshold: r for r in pr_curve(_scored(spark)).collect()}
    assert set(out) == {0.9, 0.2}
    hi, lo = out[0.9], out[0.2]
    assert (hi.pred_pairs, hi.tp) == (3, 2)
    assert hi.precision == pytest.approx(round(2 / 3, 6))
    assert hi.recall == pytest.approx(round(2 / 3, 6))
    assert hi.f1 == pytest.approx(round(2 / 3, 6))
    assert (lo.pred_pairs, lo.tp) == (6, 3)
    assert lo.precision == pytest.approx(0.5)
    assert lo.recall == pytest.approx(1.0)
    assert lo.f1 == pytest.approx(round(2 * 0.5 / 1.5, 6))


def test_pr_curve_no_positives(spark):
    df = _scored(spark).withColumn("is_match", F.lit(0))
    rows = pr_curve(df).collect()
    assert all(r.recall == 0.0 and r.f1 == 0.0 for r in rows)


def test_pr_curve_null_weight_fails_loudly(spark):
    # an aggregate row with a NULL count must not silently drop its pairs
    agg = spark.createDataFrame(
        [(0.9, 1, 2), (0.2, 0, None)], "posterior double, is_match int, n long"
    )
    with pytest.raises(Exception, match="pr_curve: NULL n"):
        pr_curve(agg, weight_col="n").collect()


def test_calibration_bins_and_ece(spark):
    out = {r.bin: r for r in calibration_bins(_scored(spark)).collect()}
    assert set(out) == {9, 2}
    b9, b2 = out[9], out[2]
    assert b9.n == 3 and b9.avg_score == pytest.approx(0.9)
    assert b9.frac_true == pytest.approx(round(2 / 3, 6))
    assert b2.n == 3 and b2.frac_true == pytest.approx(round(1 / 3, 6))
    # ece = (3*|0.9-2/3| + 3*|0.2-1/3|) / 6, identical on every row
    ece = (3 * abs(0.9 - 2 / 3) + 3 * abs(0.2 - 1 / 3)) / 6
    assert b9.ece == b2.ece == pytest.approx(round(ece, 6))


def test_calibration_top_edge_bin(spark):
    df = spark.createDataFrame(
        [(1, 2, 1.0, 1)], "id_a long, id_b long, posterior double, is_match int"
    )
    (row,) = calibration_bins(df).collect()
    assert row.bin == 9  # score 1.0 clamps into the last bin


def test_mutual_best_match(spark):
    # l1's best is r1 and vice versa -> kept; l2 prefers r1 (taken,
    # r1 prefers l1) and r2 prefers l1 (taken) -> l2/r2 NOT matched
    # even though they are each other's second choice (mutual-best is
    # the non-cascading relaxation of greedy assignment).
    rows = [
        ("l1", "r1", 0.9), ("l1", "r2", 0.8),
        ("l2", "r1", 0.85), ("l2", "r2", 0.7),
    ]
    df = spark.createDataFrame(rows, "id_a string, id_b string, score double")
    out = sorted(
        (r.id_a, r.id_b) for r in mutual_best_match(df).collect()
    )
    assert out == [("l1", "r1")]


def test_mutual_best_tiebreak_deterministic(spark):
    rows = [("l1", "r2", 0.5), ("l1", "r1", 0.5)]
    df = spark.createDataFrame(rows, "id_a string, id_b string, score double")
    out = [(r.id_a, r.id_b) for r in mutual_best_match(df).collect()]
    assert out == [("l1", "r1")]  # ties break on partner id ascending
    out2 = [
        (r.id_a, r.id_b)
        for r in mutual_best_match(df.repartition(7)).collect()
    ]
    assert out2 == out


def test_soft_tfidf_matches_bruteforce(spark):
    import math

    from aml_entity_resolution_assignment_spark.functions.similarity import (
        jaro_winkler_similarity as jw,
    )
    from aml_entity_resolution_assignment_spark.operators.features import (
        soft_tfidf_pairs,
    )

    corpus = {
        1: ["apple", "banana"],
        2: ["appel", "banana"],
        3: ["cherry"],
        4: ["apple", "cherry"],
    }
    pairs = [(1, 2), (1, 3), (1, 4), (3, 4)]

    def brute(a, b):
        n = len(corpus)
        df = {}
        for toks in corpus.values():
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        idf = {t: math.log(1 + n / d) for t, d in df.items()}

        def v(tok, doc):
            nrm = math.sqrt(sum(idf[t] ** 2 for t in set(corpus[doc])))
            return idf[tok] / nrm

        s = 0.0
        for ta in set(corpus[a]):
            # operator tiebreak: max jw, then SMALLEST partner token
            best = min(
                set(corpus[b]),
                key=lambda tb: (-round(jw(ta, tb), 6), tb),
            )
            j = round(jw(ta, best), 6)
            if j > 0.9:
                s += v(ta, a) * v(best, b) * j
        return round(s, 6)

    docs = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "doc_id long, toks array<string>"
    )
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r.soft_tfidf
        for r in soft_tfidf_pairs(pdf, docs).collect()
    }
    assert set(got) == set(pairs)
    for a, b in pairs:
        assert got[(a, b)] == pytest.approx(brute(a, b), abs=1e-6), (a, b)
    assert got[(1, 3)] == 0.0  # no close tokens -> kept at 0
    # partitioning invariance
    got2 = {
        (r.id_a, r.id_b): r.soft_tfidf
        for r in soft_tfidf_pairs(
            pdf.repartition(5), docs.repartition(3)
        ).collect()
    }
    assert got2 == got


def test_greedy_key_selection_set_cover():
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        greedy_key_selection,
    )

    # key0 covers 5 pairs, key1 covers 4, but key1's 4 are disjoint
    # from key2's 3 while key0 overlaps key2 entirely: greedy picks
    # key0 (5), then key1 (4 new), then key2 (0 new)
    masks = [(0b001, 2), (0b101, 3), (0b010, 4), (0b000, 1)]
    sel = greedy_key_selection(masks, 3)
    assert sel == [(1, 0, 5, 5), (2, 1, 4, 9), (3, 2, 0, 9)]


def test_greedy_key_selection_tiebreak():
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        greedy_key_selection,
    )

    # equal gains -> smaller key index first
    sel = greedy_key_selection([(0b11, 7)], 2)
    assert sel == [(1, 0, 7, 7), (2, 1, 0, 7)]


def test_select_blocking_keys_df(spark):
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        select_blocking_keys,
    )

    keyed = spark.createDataFrame(
        [
            (1, "x", None),
            (2, "x", "p"),
            (3, "y", "p"),
            (4, None, "q"),
            (5, None, "q"),
        ],
        "doc_id long, k1 string, k2 string",
    )
    # true pairs: (1,2) covered by k1 only; (2,3) by k2 only;
    # (4,5) by k2 only; (1,4) by neither
    tp = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (1, 4)], "id_a long, id_b long"
    )
    out = {r.step: r for r in select_blocking_keys(tp, keyed, ["k1", "k2"]).collect()}
    assert out[1].key == "k2" and out[1].gain == 2
    assert out[2].key == "k1" and out[2].gain == 1
    assert out[2].cum_covered == 3
    assert out[2].cum_recall == 0.75  # (1,4) uncovered by any key


def test_capture_recapture_chapman(spark):
    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        capture_recapture,
    )

    a = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    b = spark.createDataFrame(
        [(2, 1), (3, 4), (9, 10)], "id_a long, id_b long"  # (2,1) reorients
    )
    (row,) = capture_recapture(a, b).collect()
    assert (row.n1, row.n2, row.overlap) == (4, 3, 2)
    est = 5.0 * 4.0 / 3.0 - 1.0
    assert row.est_total == pytest.approx(round(est, 6))
    assert row.recall_a == pytest.approx(round(4 / est, 6))
