"""Unsupervised Fellegi-Sunter classifier (operators/classify.py:
classify_fs) — the EM alternative to the hand-tuned rule cascade,
composed through the same blocking/candidates/features/clustering
stages, held to the SAME pairwise-F1 gate."""

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import (
    blocking,
    candidates,
    classify,
    cluster,
)
from aml_entity_resolution_assignment_spark.operators.evaluate import (
    evaluate_labeled_pairs,
)
from aml_entity_resolution_assignment_spark.operators.features import (
    pair_features,
)
from aml_entity_resolution_assignment_spark.sources.generator import (
    generate_pages,
)

N_ENTITIES = 250


@pytest.fixture(scope="module")
def fs_classified(spark):
    gen = generate_pages(spark, n_entities=N_ENTITIES, seed=42).cache()
    pages = gen.drop("entity_id")
    truth = gen.select("url", "entity_id")
    keyed = blocking.add_blocking_keys(pages).persist()
    pairs = candidates.candidate_pairs(keyed)
    feats = pair_features(pairs, keyed)
    out = classify.classify_fs(feats).persist()
    yield truth, out, keyed


def test_schema_composes_with_downstream(fs_classified):
    _, out, _ = fs_classified
    for c in ("match_type", "confidence_score", "is_match"):
        assert c in out.columns


def test_unsupervised_f1_gate(fs_classified):
    """No labels, no tuned rule weights — EM alone must hit the same
    pairwise F1 >= 0.99 gate the cascade passes (BASELINE.json metric)."""
    truth, out, _ = fs_classified
    m = evaluate_labeled_pairs(out, truth)
    print(f"\nFS labeled-pair metrics: {m}")
    assert m.f1 >= 0.99, m


def test_clusters_from_fs_decisions(fs_classified):
    truth, out, keyed = fs_classified
    entity_map = cluster.resolve_entities(out, keyed)
    assert entity_map.count() == truth.count()


def test_posterior_is_confidence(fs_classified):
    _, out, _ = fs_classified
    row = out.agg(
        F.min("confidence_score").alias("lo"),
        F.max("confidence_score").alias("hi"),
    ).collect()[0]
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0
    bad = out.where(
        (F.col("match_type") == "match") & (F.col("confidence_score") < 0.85)
    ).count()
    assert bad == 0


def test_pipeline_config_fs_classifier(spark, tmp_path):
    """classifier='fs' wires classify_fs through run_pipeline end to
    end (checkpointed stages, clustering, metrics) and still passes
    the F1 gate; the config hash must differ from the cascade's."""
    from aml_entity_resolution_assignment_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    gen = generate_pages(spark, n_entities=120, seed=7).cache()
    pages = gen.drop("entity_id")
    truth = gen.select("url", "entity_id")
    cfg = PipelineConfig(work_dir=str(tmp_path), classifier="fs")
    assert cfg.fingerprint() != PipelineConfig(
        work_dir=str(tmp_path)
    ).fingerprint()
    out = run_pipeline(spark, pages, cfg, input_fingerprint="fs:120:7")
    m = evaluate_labeled_pairs(out["classified"], truth)
    assert m.f1 >= 0.99, m
    assert out["entity_map"].count() == gen.count()
    with pytest.raises(ValueError, match="unknown classifier"):
        bad = PipelineConfig(work_dir=str(tmp_path), classifier="nope")
        run_pipeline(spark, pages, bad, input_fingerprint="x:120:7")
