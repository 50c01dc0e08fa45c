import pytest




def test_transitivity_report_fates(spark):
    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        transitivity_report,
    )
    import pyspark.sql.functions as F

    # clusters: {1,2,3} in A, {4} in B; 5 unlabeled (self-singleton)
    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B")],
        "doc_id long, cluster string",
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, True),   # kept_match
            (2, 3, False),  # forced_merge (CC pulled them together)
            (3, 4, True),   # cut_match (match across clusters)
            (4, 5, False),  # true_negative
            (1, 5, True),   # cut_match vs unlabeled singleton
        ],
        "id_a long, id_b long, is_match boolean",
    )
    out = {
        (r.id_a, r.id_b): (r.cluster_a, r.cluster_b, r.fate)
        for r in transitivity_report(pairs, labels).collect()
    }
    assert out[("1", "2")] == ("A", "A", "kept_match")
    assert out[("2", "3")] == ("A", "A", "forced_merge")
    assert out[("3", "4")] == ("A", "B", "cut_match")
    assert out[("4", "5")] == ("B", "5", "true_negative")
    assert out[("1", "5")] == ("A", "5", "cut_match")


# ---------------------------------------------------------------------------
# evaluate_clusters: counts from the contingency table vs the pair-set
# algebra (E2 self-join + left_semi / left_anti counts)
# ---------------------------------------------------------------------------


def _set_algebra(pred, truth, classified=None):
    """Reference counts: the pair tables of both labelings and their
    semi/anti joins, counted row by row."""
    import pyspark.sql.functions as F

    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        pairs_from_clusters,
    )

    merged = pred.join(truth, "doc_id")
    t = pairs_from_clusters(merged, "doc_id", "entity_id")
    p = pairs_from_clusters(merged, "doc_id", "predicted_entity_id")
    key = ["id_a", "id_b"]
    fn = t.join(p, key, "left_anti")
    caught = 0
    if classified is not None:
        review = (
            classified.where(F.col("match_type") == "review")
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
        caught = fn.join(review, key, "left_semi").count()
    return (
        t.count(),
        p.count(),
        p.join(t, key, "left_semi").count(),
        p.join(t, key, "left_anti").count(),
        fn.count(),
        caught,
    )


def _labelings(spark, seed, n=60, singletons=False):
    """Seeded predicted/true labelings over overlapping id ranges (ids
    on one side only), with null labels on both sides, plus a
    classified pair table with both orientations of some pairs."""
    import random

    rng = random.Random(seed)

    def label(k):
        if singletons:
            return None
        return None if rng.random() < 0.15 else f"c{rng.randrange(k)}"

    pred = [(i, f"p{i}" if singletons else label(8)) for i in range(n)]
    truth = [(i, f"t{i}" if singletons else label(6)) for i in range(5, n + 5)]
    kinds = ["match", "review", "non_match"]
    classified = [
        (*((a, b) if rng.random() < 0.5 else (b, a)), rng.choice(kinds))
        for a, b in (sorted(rng.sample(range(n + 5), 2)) for _ in range(150))
    ]
    return (
        spark.createDataFrame(pred, "doc_id long, predicted_entity_id string"),
        spark.createDataFrame(truth, "doc_id long, entity_id string"),
        spark.createDataFrame(
            classified, "id_a long, id_b long, match_type string"
        ),
    )


@pytest.mark.parametrize(
    "seed,singletons", [(1, False), (2, False), (3, False), (4, True)]
)
def test_evaluate_clusters_matches_set_algebra(spark, seed, singletons):
    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        evaluate_clusters,
    )

    pred, truth, classified = _labelings(spark, seed, singletons=singletons)
    m, fn_pairs, fp_pairs = evaluate_clusters(
        pred, truth, classified, id_col="doc_id"
    )
    want = _set_algebra(pred, truth, classified)
    assert (
        m.true_pairs, m.pred_pairs, m.tp, m.fp, m.fn, m.caught_in_review
    ) == want
    assert m.truly_missed == m.fn - m.caught_in_review
    assert fn_pairs.count() == m.fn
    assert fp_pairs.count() == m.fp
    if singletons:
        assert m.true_pairs == m.pred_pairs == 0 and m.f1 == 0.0
    else:
        assert m.tp > 0 and m.fp > 0 and m.fn > 0
    assert (
        evaluate_clusters(pred, truth, id_col="doc_id")[0].caught_in_review
        == 0
    )


def test_evaluate_clusters_partitioning_invariant(spark):
    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        evaluate_clusters,
    )

    pred, truth, classified = _labelings(spark, 11)
    one = evaluate_clusters(
        pred.repartition(1), truth.repartition(1), classified.repartition(1),
        id_col="doc_id",
    )[0]
    eight = evaluate_clusters(
        pred.repartition(8), truth.repartition(8), classified.repartition(8),
        id_col="doc_id",
    )[0]
    assert one == eight


@pytest.mark.parametrize("side", ["predictions", "truth"])
def test_evaluate_clusters_rejects_duplicate_ids(spark, side):
    """An id with two rows after the join would count each of its pairs
    twice: it raises instead."""
    from aml_entity_resolution_assignment_spark.operators.evaluate import (
        evaluate_clusters,
    )

    rows = [(1, "a"), (2, "a"), (3, "b")]
    dup = rows + [(2, "b")]
    pred = spark.createDataFrame(
        dup if side == "predictions" else rows,
        "doc_id long, predicted_entity_id string",
    )
    truth = spark.createDataFrame(
        dup if side == "truth" else rows, "doc_id long, entity_id string"
    )
    with pytest.raises(ValueError, match="doc_id value appears 2 times"):
        evaluate_clusters(pred, truth, id_col="doc_id")
