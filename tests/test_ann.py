"""ANN tests: brute-force cosine vs numpy oracle; RP-LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import ann

DIM = 16
N = 80


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.Generator(np.random.PCG64(3))
    base = rng.standard_normal((N, DIM)).astype(np.float64)
    # make 41 a near-dup of 40, and 43 of 42
    base[41] = base[40] + rng.standard_normal(DIM) * 0.05
    base[43] = base[42] + rng.standard_normal(DIM) * 0.05
    rows = [(i, base[i].tolist()) for i in range(N)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return base, df.cache()


def test_brute_force_topk_matches_numpy(vectors):
    base, df = vectors
    queries = df.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.brute_force_topk(df, queries, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))

    norms = np.linalg.norm(base, axis=1)
    sims = (base @ base.T) / np.outer(norms, norms)
    for q in by_q:
        order = [
            int(i)
            for i in np.argsort(-sims[q])
            if i != q
        ][:3]
        got_ids = [nid for _, nid, _ in sorted(by_q[q])]
        assert got_ids == order, q
        for rank, nid, cos in by_q[q]:
            assert cos == pytest.approx(sims[q][nid], abs=1e-9)


def test_rp_lsh_finds_planted_near_dups(vectors):
    _, df = vectors
    pairs = ann.lsh_near_dup_pairs(df, dim=DIM, min_cosine=0.95)
    got = {(int(r["id_a"]), int(r["id_b"])) for r in pairs.collect()}
    assert (40, 41) in got
    assert (42, 43) in got


def test_rp_lsh_verify_filters_low_cosine(vectors):
    base, df = vectors
    pairs = ann.lsh_near_dup_pairs(df, dim=DIM, min_cosine=0.95).collect()
    norms = np.linalg.norm(base, axis=1)
    sims = (base @ base.T) / np.outer(norms, norms)
    for r in pairs:
        assert sims[int(r["id_a"])][int(r["id_b"])] >= 0.95


def test_cosine_on_real_embeddings_table(spark):
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    out = ann.brute_force_topk(emb, q, k=5).collect()
    assert len(out) == 10
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in out)


def test_ivf_topk_recall_vs_exact(spark, vectors):
    base, df = vectors
    queries = df.limit(6).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = ann.brute_force_topk(df, queries, k=5)
    approx = ann.ivf_topk(df, queries, k=5, n_lists=8, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, recall
    # planted near-dups (cosine ~1.0) must be found by IVF
    got41 = {r["neighbor_id"] for r in approx.collect() if r["query_id"] == 40}
    if 40 in {r["query_id"] for r in approx.collect()}:
        assert 41 in got41


def test_ivf_probe_all_cells_equals_exact(spark, vectors):
    _, df = vectors
    queries = df.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = ann.brute_force_topk(df, queries, k=3)
    full = ann.ivf_topk(df, queries, k=3, n_lists=6, n_probe=6)
    e = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in exact.collect())
    f = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in full.collect())
    assert e == f


def test_rp_band_udf_mixed_dims_deterministic(spark):
    """Mixed-dimension input: each length group hashes against its own
    seeded hyperplanes, so banding is batch-composition-invariant and
    different-dim vectors never share a bucket."""
    import numpy as np

    from aml_entity_resolution_assignment_spark.operators.ann import rp_band_udf

    rng = np.random.Generator(np.random.PCG64(3))
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(20)]
    rows += [(100 + i, rng.standard_normal(16).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    udf = rp_band_udf(dim=None)
    one = {r["vec_id"]: r["b"] for r in
           df.repartition(1).select("vec_id", udf("embedding").alias("b")).collect()}
    many = {r["vec_id"]: r["b"] for r in
            df.repartition(13).select("vec_id", udf("embedding").alias("b")).collect()}
    assert one == many
    assert all(v is not None for v in one.values())
    # cross-dim buckets are disjoint
    bands8 = {b for k, v in one.items() if k < 100 for b in v}
    bands16 = {b for k, v in one.items() if k >= 100 for b in v}
    assert not (bands8 & bands16)


# ---------------------------------------------------------------------------
# IVF product quantization (round 4)
# ---------------------------------------------------------------------------


def test_ivf_pq_full_coverage_matches_exact(spark):
    """n_probe = n_lists + rerank spanning the corpus: the refine step
    sees every row, so IVF-PQ output must EQUAL brute-force exact
    top-k — binding coarse assignment, residual encode, per-cell ADC
    LUTs, the pruned two-level scan and the refine join."""
    import os

    from aml_entity_resolution_assignment_spark.operators.ann import (
        brute_force_topk,
        ivf_pq_encode,
        ivf_pq_topk,
        train_ivf_pq,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    cent, books = train_ivf_pq(emb, n_lists=4, m=4, k=16, sample=300)
    assert cent.shape[1] == 64 and books.shape == (4, 16, 16)
    enc = ivf_pq_encode(emb, cent, books)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_pq_topk(
            enc, q, cent, books, k_neighbors=8, n_probe=4, rerank=n,
            vectors=emb, exclude_self=True,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(emb, q, k=8).collect()
    }
    assert got == want


def test_ivf_pq_bounded_probe_recall_on_clustered_data(spark):
    """The scale configuration (n_probe << n_lists) on data with real
    cluster structure: queries drawn from the clusters recover most of
    their exact top-k while scanning a fraction of the corpus."""
    import numpy as np

    from aml_entity_resolution_assignment_spark.operators.ann import (
        brute_force_topk,
        ivf_pq_encode,
        ivf_pq_topk,
        train_ivf_pq,
    )

    rng = np.random.Generator(np.random.PCG64(42))
    centers = rng.standard_normal((8, 32)) * 4.0
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.standard_normal(32)).tolist()))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    cent, books = train_ivf_pq(df, n_lists=8, m=4, k=16, sample=400)
    enc = ivf_pq_encode(df, cent, books)
    q = df.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, q, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_topk(
            enc, q, cent, books, k_neighbors=10, n_probe=2, rerank=50,
            vectors=df, exclude_self=True,
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, recall
    df.unpersist()


def test_ivf_pq_scan_pruned_and_partitioning_invariant(spark):
    """The ADC scan must keep the two-level top-k scale shape: mapInPandas
    local top-k (no cartesian/query-cross-corpus join) AND a probed-
    cell filter ahead of the scan; results must be identical at 1 and
    13 partitions."""
    import os

    from aml_entity_resolution_assignment_spark.operators.ann import (
        ivf_pq_encode,
        ivf_pq_topk,
        train_ivf_pq,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent, books = train_ivf_pq(emb, n_lists=8, m=4, k=16, sample=300)
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    enc = ivf_pq_encode(emb, cent, books)
    out = ivf_pq_topk(enc, q, cent, books, k_neighbors=5, n_probe=3)
    jvm = spark._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)  # noqa: SLF001
    assert "MapInPandas" in plan
    assert "cell" in plan  # the probe filter reached the plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "CrossJoin"):
        assert bad not in plan, bad
    one = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_pq_topk(
            ivf_pq_encode(emb.repartition(1), cent, books),
            q, cent, books, k_neighbors=5, n_probe=3,
        ).collect()
    }
    many = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_pq_topk(
            ivf_pq_encode(emb.repartition(13), cent, books),
            q, cent, books, k_neighbors=5, n_probe=3,
        ).collect()
    }
    assert one == many


def test_ivf_pq_training_deterministic(spark):
    import os

    import numpy as np

    from aml_entity_resolution_assignment_spark.operators.ann import (
        train_ivf_pq,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1, b1 = train_ivf_pq(emb, n_lists=4, m=4, k=8, sample=200)
    c2, b2 = train_ivf_pq(emb.repartition(7), n_lists=4, m=4, k=8, sample=200)
    assert np.array_equal(c1, c2) and np.array_equal(b1, b2)


# -------------------------------------------------------------- kmeans


def _kmeans_ref(vecs, k, iters):
    """Pure-python replay of the documented semantics."""
    ids = sorted(vecs)
    cents = [list(vecs[i]) for i in ids[:k]]

    def assign(v):
        best = None
        for ci, c in enumerate(cents):
            d = sum((x - y) * (x - y) for x, y in zip(v, c))
            if best is None or d < best[0] or (d == best[0] and ci < best[1]):
                best = (d, ci)
        return best[1]

    for _ in range(iters):
        cells = {i: assign(vecs[i]) for i in ids}
        for ci in range(k):
            members = [vecs[i] for i in ids if cells[i] == ci]
            if members:
                cents[ci] = [
                    sum(m[d] for m in members) / len(members)
                    for d in range(len(cents[ci]))
                ]
    return {i: assign(vecs[i]) for i in ids}, cents


def test_kmeans_lloyd_matches_reference(spark):
    import random

    from aml_entity_resolution_assignment_spark.operators.ann import (
        kmeans_lloyd,
    )

    rng = random.Random(3)
    # three well-separated blobs + one outlier
    vecs = {}
    for i in range(60):
        base = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)][i % 3]
        vecs[i] = [base[0] + rng.random(), base[1] + rng.random()]
    vecs[60] = [100.0, 100.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got_a, got_c = kmeans_lloyd(df, k=4, iterations=4)
    want_cells, want_cents = _kmeans_ref(vecs, k=4, iters=4)
    assert {
        r["vec_id"]: r["cell"] for r in got_a.collect()
    } == want_cells
    cents = {r["cell"]: r["centroid"] for r in got_c.collect()}
    for ci in range(4):
        for a, b in zip(cents[ci], want_cents[ci]):
            assert abs(a - b) < 1e-9
    # blobs 1 and 2 each end up pure (first-k init seeds two centroids
    # inside blob 0, which therefore splits — documented determinism,
    # not a quality claim)
    for blob in (1, 2):
        cells = {want_cells[i] for i in vecs if i < 60 and i % 3 == blob}
        assert len(cells) == 1


def test_kmeans_empty_cell_keeps_centroid(spark):
    from aml_entity_resolution_assignment_spark.operators.ann import (
        kmeans_lloyd,
    )

    # k=3 but only two real groups: the centroid initialized on id 2
    # loses all members after iteration 1 and must keep its position
    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.2, 0.0]),
            (3, [9.0, 9.0]), (4, [9.1, 9.0]), (5, [9.2, 9.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    a, c = kmeans_lloyd(df, k=3, iterations=3)
    cents = {r["cell"]: r["centroid"] for r in c.collect()}
    assert len(cents) == 3  # no cell dropped
    with_members = {r["cell"] for r in a.collect()}
    assert len(with_members) <= 3


def test_kmeans_partitioning_invariant(spark):
    import random

    from aml_entity_resolution_assignment_spark.operators.ann import (
        kmeans_lloyd,
    )

    rng = random.Random(9)
    rows = [(i, [rng.random() * 4, rng.random() * 4]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a1, _ = kmeans_lloyd(df.repartition(1), k=5, iterations=3)
    a8, _ = kmeans_lloyd(df.repartition(8), k=5, iterations=3)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a8.collect()))


# ------------------------------------------------- margin bitext mining


def _margin_ref(xs, ys, k):
    """Plain-Python ratio-margin mutual-best replay."""
    import math

    def cos(a, b):
        d = sum(p * q for p, q in zip(a, b))
        na = math.sqrt(sum(p * p for p in a))
        nb = math.sqrt(sum(q * q for q in b))
        return d / (na * nb)

    c = {(xi, yi): cos(xv, yv) for xi, xv in xs for yi, yv in ys}
    mx = {
        xi: sum(sorted((c[(xi, yi)] for yi, _ in ys), reverse=True)[:k])
        / min(k, len(ys))
        for xi, _ in xs
    }
    my = {
        yi: sum(sorted((c[(xi, yi)] for xi, _ in xs), reverse=True)[:k])
        / min(k, len(xs))
        for yi, _ in ys
    }
    mg = {p: c[p] / ((mx[p[0]] + my[p[1]]) / 2) for p in c}
    out = []
    for xi, _ in xs:
        best_y = max((yi for yi, _ in ys), key=lambda yi: (mg[(xi, yi)], -yi))
        best_x = max((xj for xj, _ in xs), key=lambda xj: (mg[(xj, best_y)], -xj))
        if best_x == xi:
            out.append((xi, best_y, c[(xi, best_y)], mg[(xi, best_y)]))
    return out


def test_margin_mine_matches_reference_and_suppresses_hubs(spark):
    from aml_entity_resolution_assignment_spark.operators.ann import (
        margin_mine,
    )

    # y20 is a HUB (close to every x); per-pair true matches x_i ~ y_i
    xs = [(i, [1.0 if j == i else 0.1 for j in range(6)]) for i in range(4)]
    ys = [(i + 10, [1.0 if j == i else 0.12 for j in range(6)]) for i in range(4)]
    ys.append((20, [0.5] * 6))
    xdf = spark.createDataFrame(xs, "vec_id long, embedding array<double>")
    ydf = spark.createDataFrame(ys, "vec_id long, embedding array<double>")
    got = {
        (r["x_id"], r["y_id"]): (r["cosine"], r["margin"])
        for r in margin_mine(xdf, ydf, k=3).collect()
    }
    want = {(a, b): (cc, mm) for a, b, cc, mm in _margin_ref(xs, ys, 3)}
    assert set(got) == set(want)
    for p, (cc, mm) in want.items():
        assert abs(got[p][0] - cc) < 1e-9 and abs(got[p][1] - mm) < 1e-9
    # every mined pair is the planted diagonal, never the hub
    assert all(y == x + 10 for x, y in got)


def test_margin_mine_candidates_and_invariance(spark):
    from aml_entity_resolution_assignment_spark.operators.ann import (
        margin_mine,
    )

    xs = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(12)]
    ys = [(i + 100, [float((i * 5 + j * 2) % 13) for j in range(8)]) for i in range(12)]
    xdf = spark.createDataFrame(xs, "vec_id long, embedding array<double>")
    ydf = spark.createDataFrame(ys, "vec_id long, embedding array<double>")
    a = {
        (r["x_id"], r["y_id"], round(r["margin"], 9))
        for r in margin_mine(xdf.repartition(1), ydf.repartition(1), k=4).collect()
    }
    b = {
        (r["x_id"], r["y_id"], round(r["margin"], 9))
        for r in margin_mine(xdf.repartition(8), ydf.repartition(5), k=4).collect()
    }
    assert a == b and len(a) >= 1
    # restricting candidates to the full grid reproduces the baseline
    cand = spark.createDataFrame(
        [(x, y + 100) for x in range(12) for y in range(12)],
        "x_id long, y_id long",
    )
    c = {
        (r["x_id"], r["y_id"], round(r["margin"], 9))
        for r in margin_mine(xdf, ydf, k=4, candidates=cand).collect()
    }
    assert c == a
