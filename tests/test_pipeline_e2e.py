"""End-to-end pipeline test (SURVEY.md §5.2 item 3): deterministic
synthetic pages -> full pipeline -> pairwise F1 >= 0.99 on labeled pairs
at the blocking keys (BASELINE.json metric) + checkpoint/resume
equivalence."""

import json

import pytest

from aml_entity_resolution_assignment_spark.operators.evaluate import (
    evaluate_clusters,
    evaluate_labeled_pairs,
)
from aml_entity_resolution_assignment_spark.plans.pipeline import (
    PipelineConfig,
    StageRunner,
    run_pipeline,
)
from aml_entity_resolution_assignment_spark.sources.generator import generate_pages

N_ENTITIES = 250


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("er_work"))
    gen = generate_pages(spark, n_entities=N_ENTITIES, seed=42).cache()
    pages = gen.drop("entity_id")
    truth = gen.select("url", "entity_id")
    cfg = PipelineConfig(work_dir=work)
    out = run_pipeline(spark, pages, cfg, input_fingerprint=f"test:{N_ENTITIES}:42")
    return gen, truth, out, work, cfg


def test_f1_gate_on_labeled_pairs(pipeline_out):
    """THE BASELINE.json gate: pairwise match F1 >= 0.99 on labeled
    pairs at the reference blocking keys."""
    _, truth, out, _, _ = pipeline_out
    m = evaluate_labeled_pairs(out["classified"], truth)
    print(f"\nlabeled-pair metrics: {m}")
    assert m.f1 >= 0.99, m


def test_cluster_level_metrics(pipeline_out):
    _, truth, out, _, _ = pipeline_out
    m, _, _ = evaluate_clusters(out["entity_map"], truth, out["classified"])
    print(f"\ncluster metrics: {m}")
    assert m.precision >= 0.98, m
    assert m.recall >= 0.97, m


def test_every_record_assigned(pipeline_out):
    gen, _, out, _, _ = pipeline_out
    assert out["entity_map"].count() == gen.count()
    assert (
        out["entity_map"].where(out["entity_map"].predicted_entity_id.isNull()).count()
        == 0
    )


def test_resume_skips_stages_and_is_identical(spark, pipeline_out):
    gen, _, out, work, cfg = pipeline_out
    pages = gen.drop("entity_id")
    out2 = run_pipeline(
        spark, pages, cfg, run_id="run1", input_fingerprint=f"test:{N_ENTITIES}:42"
    )
    a = sorted(
        (r["url"], r["predicted_entity_id"]) for r in out["entity_map"].collect()
    )
    b = sorted(
        (r["url"], r["predicted_entity_id"]) for r in out2["entity_map"].collect()
    )
    assert a == b
    # resumed run recorded 'resumed' metrics
    from aml_entity_resolution_assignment_spark.plans.pipeline import read_metrics

    m = read_metrics(spark, work)
    resumed = m.where(
        (m.run_id == "run1") & (m.metric == "resumed")
    ).count()
    assert resumed >= 5

    # resumed stages report the counts their manifests observed: every
    # metric but the per-build ones matches the first run
    def reported(run_id):
        return sorted(
            (r["stage"], r["metric"], r["value"], r["detail"])
            for r in m.where(
                (m.run_id == run_id)
                & ~m.metric.isin("wall_sec", "resumed", "rows_out")
            ).collect()
        )

    assert reported("run1") == reported("run0") != []


def test_metrics_table_has_blocking_health(spark, pipeline_out):
    _, _, _, work, _ = pipeline_out
    from aml_entity_resolution_assignment_spark.plans.pipeline import read_metrics

    m = read_metrics(spark, work)
    names = {r["metric"] for r in m.select("metric").distinct().collect()}
    assert {"reduction_ratio", "pairs_per_record", "rows_out", "wall_sec"} <= names


def test_class_and_entity_counts_match_the_stage_tables(spark, pipeline_out):
    """The observed n_<match_type> and n_entities metrics equal the
    counts a re-read of the written stages gives."""
    _, _, out, work, _ = pipeline_out
    from aml_entity_resolution_assignment_spark.plans.pipeline import read_metrics

    m = read_metrics(spark, work).where("run_id = 'run0'")
    got = {r["metric"]: r["value"] for r in m.collect()}
    want = {
        f"n_{r['match_type']}": float(r["count"])
        for r in out["classified"].groupBy("match_type").count().collect()
    }
    types = ("n_match", "n_review", "n_no_match")
    assert {k: v for k, v in got.items() if k in types} == want
    assert got["n_entities"] == float(
        out["entity_map"].select("predicted_entity_id").distinct().count()
    )


def test_stage_is_one_spark_job(spark, tmp_path):
    """A shuffle-free stage runs only its write: the row count is an
    observed metric of the write and the read-back takes the built
    schema, so no count or schema-inference job follows."""
    sc = spark.sparkContext
    r = StageRunner(
        spark, PipelineConfig(work_dir=str(tmp_path), resume=False), "run0"
    )
    sc.setJobGroup("stage-budget", "one stage")
    try:
        out = r.run("ids", "fp", lambda: spark.range(1000))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("stage-budget")) == 1
    assert r.observed["ids"] == {"rows": 1000}
    assert out.count() == 1000


def test_manifest_without_observed_counts_is_rebuilt(spark, tmp_path):
    """Resume reuses a stage only when its manifest carries the observed
    counts; an older manifest without them rebuilds the stage."""
    cfg = PipelineConfig(work_dir=str(tmp_path))

    def run(run_id, build):
        r = StageRunner(spark, cfg, run_id)
        r.run("ids", "fp", build)
        return r

    run("run0", lambda: spark.range(10))
    mpath = tmp_path / "_MANIFEST_ids.json"
    manifest = json.loads(mpath.read_text())
    del manifest["observed"]
    mpath.write_text(json.dumps(manifest))

    r = run("run1", lambda: spark.range(10))
    assert r.observed["ids"] == {"rows": 10}
    assert "resumed" not in {m["metric"] for m in r.metrics}

    def no_build():
        raise AssertionError("a stage with observed counts was rebuilt")

    r = run("run2", no_build)
    assert r.observed["ids"] == {"rows": 10}
    assert "resumed" in {m["metric"] for m in r.metrics}


def test_stage_write_leaves_the_session_usable_for_ml(spark, tmp_path):
    """Observing a stage write must not stop the session from being
    serialized: a fitted LogisticRegression captures it when it
    transforms."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    r = StageRunner(
        spark, PipelineConfig(work_dir=str(tmp_path), resume=False), "run0"
    )
    r.run("ids", "fp", lambda: spark.range(10))
    train = spark.createDataFrame(
        [(Vectors.dense([float(i)]), float(i > 2)) for i in range(6)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    assert len(model.transform(train).collect()) == 6


def test_bcubed_hand_computed_and_properties(spark):
    """B-cubed vs the worked textbook example + invariances: perfect
    clustering scores 1.0; all-singletons gives precision 1; one giant
    cluster gives recall 1."""
    from aml_entity_resolution_assignment_spark.operators.evaluate import bcubed

    def run(pred_map, true_map):
        p = spark.createDataFrame(
            list(pred_map.items()), "url string, predicted_entity_id string"
        )
        t = spark.createDataFrame(
            list(true_map.items()), "url string, entity_id string"
        )
        r = bcubed(p, t).collect()[0]
        return r["b3_precision"], r["b3_recall"], r["b3_f1"]

    truth = {"a": "X", "b": "X", "c": "X", "d": "Y", "e": "Y"}
    # perfect
    pr, rc, f1 = run({k: v for k, v in truth.items()}, truth)
    assert pr == rc == f1 == 1.0
    # all singletons: every record's predicted cluster = itself
    pr, rc, f1 = run({k: k for k in truth}, truth)
    assert pr == 1.0
    assert abs(rc - (3 * (1 / 3) + 2 * (1 / 2)) / 5) < 1e-12
    # one giant cluster
    pr, rc, f1 = run({k: "ALL" for k in truth}, truth)
    assert rc == 1.0
    assert abs(pr - (3 * (3 / 5) + 2 * (2 / 5)) / 5) < 1e-12
    # hand-computed mixed case: pred {a,b,d} {c,e}
    pred = {"a": "P1", "b": "P1", "d": "P1", "c": "P2", "e": "P2"}
    # precision: a,b: 2/3 each; d: 1/3; c: 1/2; e: 1/2 -> (2/3+2/3+1/3+1/2+1/2)/5
    # recall:    a,b: 2/3 each; c: 1/3; d: 1/2; e: 1/2 -> same sum here
    want_p = (2 / 3 + 2 / 3 + 1 / 3 + 1 / 2 + 1 / 2) / 5
    want_r = (2 / 3 + 2 / 3 + 1 / 3 + 1 / 2 + 1 / 2) / 5
    pr, rc, f1 = run(pred, truth)
    assert abs(pr - want_p) < 1e-12 and abs(rc - want_r) < 1e-12


def _content_hash(df):
    """(row count, sum of row hashes): equal for equal row multisets,
    whatever the row order or partitioning."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    return tuple(df.agg(F.count("*"), F.sum(h)).first())


def test_keyed_table_is_partitioning_invariant(spark):
    """The keyed table's bytes do not depend on how pages are split
    into partitions and Arrow batches."""
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        add_blocking_keys,
    )

    pages = generate_pages(spark, n_entities=120, seed=7).drop("entity_id").localCheckpoint()
    one = _content_hash(add_blocking_keys(pages.repartition(1)))
    eight = _content_hash(add_blocking_keys(pages.repartition(8)))
    assert one == eight and one[0] == pages.count()


def test_pipeline_entity_map_is_partitioning_invariant(spark, tmp_path):
    pages = generate_pages(spark, n_entities=120, seed=7).drop("entity_id").localCheckpoint()
    hashes = [
        _content_hash(
            run_pipeline(
                spark, pages.repartition(n),
                PipelineConfig(work_dir=str(tmp_path / f"p{n}"), resume=False),
            )["entity_map"]
        )
        for n in (1, 8)
    ]
    assert hashes[0] == hashes[1] and hashes[0][0] == pages.count()


@pytest.fixture(scope="module")
def keyed_and_pairs(spark):
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        add_blocking_keys,
    )
    from aml_entity_resolution_assignment_spark.operators.candidates import (
        candidate_pairs,
    )

    pages = generate_pages(spark, n_entities=120, seed=7).drop("entity_id").localCheckpoint()
    keyed = add_blocking_keys(pages).localCheckpoint()
    pairs = candidate_pairs(keyed).localCheckpoint()
    return pages, keyed, pairs


def test_pair_features_are_partitioning_invariant(keyed_and_pairs):
    from aml_entity_resolution_assignment_spark.operators.features import (
        pair_features,
    )

    _, keyed, pairs = keyed_and_pairs
    one, eight = (
        _content_hash(pair_features(pairs.repartition(n), keyed.repartition(n)))
        for n in (1, 8)
    )
    assert one == eight and one[0] == pairs.count() > 0


def test_classify_is_partitioning_invariant(keyed_and_pairs):
    from aml_entity_resolution_assignment_spark.operators.classify import classify
    from aml_entity_resolution_assignment_spark.operators.features import (
        pair_features,
    )

    _, keyed, pairs = keyed_and_pairs
    feats = pair_features(pairs, keyed).localCheckpoint()
    one, eight = (_content_hash(classify(feats.repartition(n))) for n in (1, 8))
    assert one == eight and one[0] == pairs.count()


def test_resolve_is_partitioning_invariant(keyed_and_pairs):
    from aml_entity_resolution_assignment_spark.operators.resolve import resolve

    pages, keyed, _ = keyed_and_pairs
    queries = pages.orderBy("url").limit(12).localCheckpoint()
    one, eight = (
        _content_hash(resolve(queries.repartition(n), keyed.repartition(n)))
        for n in (1, 8)
    )
    # top_n=1: one row per query that has a candidate
    assert one == eight and 0 < one[0] <= 12
