"""Connected components vs networkx oracle (FIXTURES.md §4)."""

import math
import random

import networkx as nx
import pytest

from aml_entity_resolution_assignment_spark.operators import cluster
from aml_entity_resolution_assignment_spark.operators.cluster import (
    connected_components,
)


def _oracle(edges, vertices):
    # connected_components drops self-loops and null endpoints
    g = nx.Graph()
    g.add_nodes_from(vertices)
    g.add_edges_from(
        (a, b) for a, b in edges if a is not None and b is not None and a != b
    )
    out = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for v in comp:
            out[v] = root
    return out


def _labels(df, id_col="url"):
    return {r[id_col]: r["predicted_entity_id"] for r in df.collect()}


def _run(spark, edges, vertices=None):
    """Labels from the driver finish (default DRIVER_CC_EDGES), checked
    equal to the distributed star rounds (cap monkeypatched to 0)."""
    e_df = spark.createDataFrame(
        edges or [("x", "x")], "id_a string, id_b string"
    )
    if not edges:
        e_df = e_df.limit(0)
    v_df = (
        spark.createDataFrame([(v,) for v in vertices], "url string")
        if vertices is not None
        else None
    )
    via_driver = _labels(connected_components(e_df, vertices=v_df))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "DRIVER_CC_EDGES", 0)
        via_rounds = _labels(connected_components(e_df, vertices=v_df))
    assert via_driver == via_rounds
    return via_driver


def test_chain_transitivity(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    verts = ["a", "b", "c", "d", "e"]
    assert _run(spark, edges, verts) == _oracle(edges, verts)


def test_two_cluster_merge(spark):
    edges = [("a", "b"), ("c", "d"), ("b", "c")]
    verts = ["a", "b", "c", "d"]
    got = _run(spark, edges, verts)
    assert len(set(got.values())) == 1


def test_singletons_kept(spark):
    edges = [("a", "b")]
    verts = ["a", "b", "s1", "s2"]
    got = _run(spark, edges, verts)
    assert got["s1"] == "s1" and got["s2"] == "s2"
    assert got["a"] == got["b"] == "a"


def test_no_edges_all_singletons(spark):
    got = _run(spark, [], ["x", "y", "z"])
    assert got == {"x": "x", "y": "y", "z": "z"}
    assert _run(spark, []) == {}


# ids whose string order differs from their numeric, length or byte-naive
# order: the label is the min in binary UTF-8 order on both paths
ORDERING_TRAPS = [
    [("9", "10"), ("10", "11"), ("100", "99"), ("2", "100")],
    [("abc", "ab"), ("ab", "b"), ("a", "zz"), ("zzz", "a"), ("B", "b")],
    [("é", "e"), ("e", "z"), ("日本", "中"), ("中", "\U0001F600"),
     ("ÿ", "Ā"), ("Ā", "é")],
]


@pytest.mark.parametrize("edges", ORDERING_TRAPS, ids=["digits", "lengths", "utf8"])
def test_ordering_traps_match_networkx(spark, edges):
    verts = sorted({v for e in edges for v in e} | {"0", "á"})
    assert _run(spark, edges, verts) == _oracle(edges, verts)
    assert _run(spark, edges) == _oracle(edges, [])


def test_messy_rows_match_networkx(spark):
    """Duplicate rows, both orientations of an edge, self-loops and null
    endpoints: both paths drop the self-loops and nulls, and neither
    the duplicates nor the reversed copies change a label."""
    edges = [
        ("b", "a"), ("a", "b"), ("a", "b"), ("c", "b"), ("b", "c"),
        ("d", "d"), ("e", "e"), ("e", "f"), ("f", "e"),
        (None, "g"), ("h", None), (None, None), ("i", "i"),
    ]
    verts = ["a", "b", "c", "d", "e", "f", "g", "h", "x"]
    assert _run(spark, edges, verts) == _oracle(edges, verts)
    assert _run(spark, edges) == _oracle(edges, [])


def test_small_graph_job_budget(spark):
    """A 500-node chain finishes on the driver: the probe, the vertex
    join and the collect, with no star rounds (the rounds take 55)."""
    sc = spark.sparkContext
    verts = [f"n{i:03d}" for i in range(500)]
    e_df = spark.createDataFrame(
        list(zip(verts, verts[1:])), "id_a string, id_b string"
    )
    v_df = spark.createDataFrame([(v,) for v in verts], "url string")
    sc.setJobGroup("cc-budget", "500-node chain")
    try:
        got = _labels(connected_components(e_df, vertices=v_df))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(got.values()) == {"n000"} and len(got) == 500
    assert len(sc.statusTracker().getJobIdsForGroup("cc-budget")) <= 6


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_graphs_match_networkx(spark, seed):
    rng = random.Random(seed)
    verts = [f"v{i:03d}" for i in range(60)]
    edges = [
        (rng.choice(verts), rng.choice(verts)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges, verts) == _oracle(edges, verts)


def test_long_chain_converges_quickly(spark):
    # path graph of 64 nodes: diameter 63, log-round algorithm must
    # converge well under the 50-iteration cap
    verts = [f"n{i:02d}" for i in range(64)]
    edges = [(verts[i], verts[i + 1]) for i in range(63)]
    got = _run(spark, edges, verts)
    assert set(got.values()) == {"n00"}


# ---------------------------------------------------------------------------
# incremental CC (round 4): fold new edges into an existing assignment
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_incremental_cc_equals_full_recompute(spark, seed):
    """incremental_connected_components(CC(base), delta) must equal
    CC(base + delta) exactly — merges across old components, chains of
    merges through a single batch, and brand-new vertices included."""
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        incremental_connected_components,
    )

    rng = random.Random(seed)
    verts = [f"v{i:03d}" for i in range(60)]
    base = [tuple(sorted(rng.sample(verts, 2))) for _ in range(40)]
    # delta: edges among old vertices + edges introducing NEW vertices
    newv = [f"w{i:03d}" for i in range(10)]
    delta = [tuple(sorted(rng.sample(verts, 2))) for _ in range(10)]
    delta += [(rng.choice(verts), w) for w in newv[:6]]
    delta += [tuple(sorted(rng.sample(newv, 2))) for _ in range(5)]

    base_df = spark.createDataFrame(base, "id_a string, id_b string")
    delta_df = spark.createDataFrame(delta, "id_a string, id_b string")
    vert_df = spark.createDataFrame([(v,) for v in verts], "url string")

    assignments = connected_components(base_df, vertices=vert_df, id_col="url")
    got = incremental_connected_components(assignments, delta_df)
    got_map = {
        r["url"]: r["predicted_entity_id"] for r in got.collect()
    }

    all_verts = set(verts) | {v for e in delta for v in e}
    want = _oracle(base + delta, all_verts)
    assert got_map == want


@pytest.mark.parametrize("seed", [5, 19])
def test_incremental_cc_driver_and_distributed_paths_agree(spark, seed):
    """The batch-bounded contracted graph finishes on the driver by
    default and runs the distributed star rounds above DRIVER_CC_EDGES
    (monkeypatched to 0 here): both paths must produce IDENTICAL labels
    (min member id, binary string order)."""
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        incremental_connected_components,
    )

    rng = random.Random(seed)
    verts = [f"v{i:03d}" for i in range(50)]
    base = [tuple(sorted(rng.sample(verts, 2))) for _ in range(30)]
    newv = [f"w{i:03d}" for i in range(8)]
    delta = [tuple(sorted(rng.sample(verts, 2))) for _ in range(8)]
    delta += [(rng.choice(verts), w) for w in newv[:5]]

    base_df = spark.createDataFrame(base, "id_a string, id_b string")
    delta_df = spark.createDataFrame(delta, "id_a string, id_b string")
    vert_df = spark.createDataFrame([(v,) for v in verts], "url string")

    assignments = connected_components(base_df, vertices=vert_df, id_col="url")
    d1 = _labels(incremental_connected_components(assignments, delta_df))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "DRIVER_CC_EDGES", 0)
        d2 = _labels(incremental_connected_components(assignments, delta_df))
    assert d1 == d2
    all_verts = set(verts) | {v for e in delta for v in e}
    assert d1 == _oracle(base + delta, all_verts)


def test_incremental_cc_empty_delta_is_identity(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        incremental_connected_components,
    )

    base_df = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "id_a string, id_b string"
    )
    vert_df = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)], "url string")
    assignments = connected_components(base_df, vertices=vert_df, id_col="url")
    empty = spark.createDataFrame([], "id_a string, id_b string")
    got = incremental_connected_components(assignments, empty)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in assignments.collect()
    }


def test_incremental_cc_merge_chain_through_batch(spark):
    """One batch can chain several old components together; every
    member must relabel to the global min."""
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        incremental_connected_components,
    )

    base_df = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2"), ("c1", "c2")], "id_a string, id_b string"
    )
    assignments = connected_components(base_df, id_col="url")
    delta = spark.createDataFrame(
        [("a2", "b1"), ("b2", "c1")], "id_a string, id_b string"
    )
    got = {
        r["url"]: r["predicted_entity_id"]
        for r in incremental_connected_components(assignments, delta).collect()
    }
    assert got == {v: "a1" for v in ["a1", "a2", "b1", "b2", "c1", "c2"]}


def test_cluster_cohesion_metrics(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        cluster_cohesion,
    )

    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "C")],
        "doc_id long, cluster string",
    )
    # A: edges 1-2 (0.9), 2-3 (0.5); boundary 3-4; B-C boundary 4-5;
    # C singleton otherwise
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5), (3, 4, 0.4), (4, 5, 0.3)],
        "id_a long, id_b long, score double",
    )
    out = {r.cluster: r for r in cluster_cohesion(labels, edges).collect()}
    a, b, c = out["A"], out["B"], out["C"]
    assert (a.n_nodes, a.n_edges, a.out_edges) == (3, 2, 1)
    assert a.avg_score == 0.7 and a.min_score == 0.5
    assert a.density == round(2 / 3, 6)
    assert a.boundary_ratio == round(1 / 3, 6)
    assert (b.n_nodes, b.n_edges, b.out_edges) == (1, 0, 2)
    assert b.density == 1.0 and b.boundary_ratio == 1.0
    assert (c.n_nodes, c.n_edges, c.out_edges) == (1, 0, 1)


def test_cluster_diff_fates(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        cluster_diff,
    )

    # a1 stable->b1; a2 splits into b2+b3; a3+a4 merge into b4;
    # a5/a6 <-> b5/b6 rearranged
    la = [(1, "a1"), (2, "a2"), (3, "a2"), (4, "a3"), (5, "a4"),
          (6, "a5"), (7, "a5"), (8, "a6"), (9, "a6")]
    lb = [(1, "b1"), (2, "b2"), (3, "b3"), (4, "b4"), (5, "b4"),
          (6, "b5"), (7, "b6"), (8, "b5"), (9, "b6")]
    A = spark.createDataFrame(la, "doc_id long, cluster string")
    B = spark.createDataFrame(lb, "doc_id long, cluster string")
    out = {
        (r.cluster_a, r.cluster_b): (r.n, r.fate)
        for r in cluster_diff(A, B).collect()
    }
    assert out[("a1", "b1")] == (1, "stable")
    assert out[("a2", "b2")] == (1, "split")
    assert out[("a2", "b3")] == (1, "split")
    assert out[("a3", "b4")] == (1, "merge")
    assert out[("a4", "b4")] == (1, "merge")
    for cell in [("a5", "b5"), ("a5", "b6"), ("a6", "b5"), ("a6", "b6")]:
        assert out[cell] == (1, "rearranged")


def test_star_clusters_chain_splits(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        star_clusters,
    )

    # chain a-b-c-d: CC gives ONE component; stars split at the weak
    # middle — b (degree tie, smaller id) centers {a,b,c}, d is left
    # with no adjacent center and stays a singleton
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "id_a string, id_b string"
    )
    out = {r.node: r.cluster for r in star_clusters(edges).collect()}
    assert out == {"a": "b", "b": "b", "c": "b", "d": "d"}


def test_star_clusters_hub(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        star_clusters,
    )

    # triangle a-b-c plus pendant c-d: c (deg 3) centers everyone
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "id_a string, id_b string",
    )
    out = {r.node: r.cluster for r in star_clusters(edges).collect()}
    assert out == {"a": "c", "b": "c", "c": "c", "d": "c"}


def test_star_clusters_partitioning_invariant(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        star_clusters,
    )

    import random

    rng = random.Random(5)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(map(tuple, star_clusters(df).collect()))
    b = sorted(map(tuple, star_clusters(df.repartition(13)).collect()))
    assert a == b
    # Re-derive TRUE centers from the spec (a node is a center iff no
    # neighbor beats it on (degree desc, id asc)).  Note: self-labeled
    # output nodes also include "lonely" non-centers with no adjacent
    # center — those must not be confused with centers here.
    adj: dict = {}
    for x, y in {(x, y) for x, y in edges}:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    deg = {n: len(vs) for n, vs in adj.items()}
    centers = {
        n
        for n in adj
        if not any(
            (deg[v], -v) > (deg[n], -n) for v in adj[n]
        )
    }
    # centers form an independent set
    for x, y in edges:
        assert not (x != y and x in centers and y in centers), (x, y)
    lab = dict(a)
    for n, c in a:
        if n in centers:
            assert c == n  # centers label themselves
        elif c != n:
            # satellite: attached to an ADJACENT center
            assert c in centers and c in adj[n], (n, c)
        else:
            # lonely singleton: genuinely no adjacent center
            assert not (adj.get(n, set()) & centers), n
        assert lab[c] == c


def _pivot_sequential(edges, seed=7):
    """Sequential KwikCluster oracle: scan nodes in the md5-low60
    permutation; an unassigned node pivots and claims all unassigned
    neighbors.  The distributed operator must match EXACTLY."""
    import hashlib

    def pi(n):
        h = hashlib.md5(f"{n}|{seed}".encode()).hexdigest()[:15]
        return (int(h, 16), n)

    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(str(a), set()).add(str(b))
        adj.setdefault(str(b), set()).add(str(a))
    lab = {}
    for n in sorted(adj, key=pi):
        if n in lab:
            continue
        lab[n] = n
        for v in adj[n]:
            if v not in lab:
                lab[v] = n
    return lab


def test_pivot_clusters_matches_sequential_greedy(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        pivot_clusters,
    )

    rng = random.Random(11)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(160)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.cluster for r in pivot_clusters(df).collect()}
    want = _pivot_sequential(edges)
    assert got == want


def test_pivot_clusters_partitioning_invariant(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        pivot_clusters,
    )

    rng = random.Random(3)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(map(tuple, pivot_clusters(df).collect()))
    b = sorted(map(tuple, pivot_clusters(df.repartition(17)).collect()))
    assert a == b
    # pivots form an independent set; every satellite is adjacent to
    # its pivot
    adj = {}
    for x, y in edges:
        adj.setdefault(str(x), set()).add(str(y))
        adj.setdefault(str(y), set()).add(str(x))
    lab = dict(a)
    pivots = {c for _, c in a}
    for p in pivots:
        assert lab[p] == p
        assert not (adj[p] & pivots), p
    for n, c in a:
        if n != c:
            assert c in adj[n]


def test_pivot_clusters_refuses_weak_bridge(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        pivot_clusters,
    )

    # two triangles joined by one bridge edge: CC returns ONE cluster;
    # PIVOT cuts at most the bridge-adjacent assignments — it can
    # never produce a single 6-node cluster because no node is
    # adjacent to all five others
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "f"), ("f", "d"),
         ("c", "d")],
        "id_a string, id_b string",
    )
    out = {r.node: r.cluster for r in pivot_clusters(edges).collect()}
    assert len(out) == 6
    assert len(set(out.values())) >= 2
    want = _pivot_sequential(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")]
    )
    assert out == want


def _canopy_sequential(pairs, loose, tight, seed=7):
    """Sequential McCallum canopy oracle (similarity orientation):
    scan the pool in the md5-low60 permutation; a pooled point becomes
    a center, every point within LOOSE joins its canopy, points within
    TIGHT leave the pool."""
    import hashlib

    def pi(n):
        h = hashlib.md5(f"{n}|{seed}".encode()).hexdigest()[:15]
        return (int(h, 16), n)

    sim = {}
    nodes = set()
    for a, b, s in pairs:
        a, b = str(a), str(b)
        if a == b:
            continue
        nodes |= {a, b}
        sim[(a, b)] = max(sim.get((a, b), 0.0), s)
        sim[(b, a)] = max(sim.get((b, a), 0.0), s)
    pool = set(nodes)
    out = set()
    for n in sorted(nodes, key=pi):
        if n not in pool:
            continue
        out.add((n, n))
        for v in nodes:
            sv = sim.get((n, v), -1.0)
            if sv >= loose:
                out.add((v, n))
            if sv >= tight:
                pool.discard(v)
        pool.discard(n)
    return out


def test_canopies_match_sequential(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        canopies,
    )

    rng = random.Random(19)
    pairs = []
    seen = set()
    for _ in range(200):
        a, b = rng.randrange(60), rng.randrange(60)
        if a == b or (a, b) in seen or (b, a) in seen:
            continue
        seen.add((a, b))
        pairs.append((a, b, round(rng.random(), 3)))
    df = spark.createDataFrame(pairs, "id_a long, id_b long, score double")
    got = {
        (r.node, r.canopy)
        for r in canopies(df, loose=0.3, tight=0.7).collect()
    }
    want = _canopy_sequential(pairs, 0.3, 0.7)
    assert got == want
    # overlap actually exercised: some node in >1 canopy
    from collections import Counter

    c = Counter(n for n, _ in got)
    assert max(c.values()) > 1


def test_canopies_properties(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        canopies,
    )

    rng = random.Random(4)
    pairs = [
        (a, b, round(rng.random(), 3))
        for a in range(30)
        for b in range(a + 1, 30)
        if rng.random() < 0.2
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long, score double")
    rows = canopies(df, loose=0.25, tight=0.6).collect()
    got = {(r.node, r.canopy) for r in rows}
    nodes = {str(x) for p in pairs for x in p[:2]}
    centers = {c for _, c in got}
    sim = {}
    for a, b, s in pairs:
        sim[(str(a), str(b))] = s
        sim[(str(b), str(a))] = s
    # every node in >= 1 canopy; centers self-labeled
    assert {n for n, _ in got} == nodes
    for c in centers:
        assert (c, c) in got
    # no two centers within tight of each other
    for c in centers:
        for d in centers:
            if c != d:
                assert sim.get((c, d), 0.0) < 0.6, (c, d)
    # membership is exactly loose-adjacency to a center (plus self)
    for n, c in got:
        if n != c:
            assert sim[(n, c)] >= 0.25
    # partitioning invariance
    got2 = {
        (r.node, r.canopy)
        for r in canopies(
            df.repartition(13), loose=0.25, tight=0.6
        ).collect()
    }
    assert got2 == got


def test_canopies_tight_below_loose_raises(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        canopies,
    )

    df = spark.createDataFrame(
        [(1, 2, 0.5)], "id_a long, id_b long, score double"
    )
    with pytest.raises(ValueError):
        canopies(df, loose=0.6, tight=0.3)


def _sweep_rows(df, ths):
    return {r.threshold: tuple(r) for r in cluster.cluster_sweep(df, ths).collect()}


def _sweep_both(df, ths):
    """Sweep rows from the driver pass (default DRIVER_CC_EDGES), checked
    equal to the distributed levels (cap monkeypatched to 0)."""
    via_driver = _sweep_rows(df, ths)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "DRIVER_CC_EDGES", 0)
        via_levels = _sweep_rows(df, ths)
    assert via_driver == via_levels
    return via_driver


def _sweep_oracle(edges, ths):
    """cluster_sweep rows from networkx, with Spark's predicate
    semantics: self-loops and null ids dropped, a null score never
    qualifies, a NaN score qualifies at every threshold (Spark orders
    NaN above every double)."""
    kept = [
        (a, b, s) for a, b, s in edges
        if a is not None and b is not None and a != b
    ]
    verts = {x for a, b, _ in kept for x in (a, b)}
    out = {}
    for t in ths:
        q = [
            (a, b) for a, b, s in kept
            if s is not None and (math.isnan(s) or s >= t)
        ]
        g = nx.Graph()
        g.add_nodes_from(verts)
        g.add_edges_from(q)
        comps = list(nx.connected_components(g))
        out[t] = (
            t,
            len(q),
            len(comps),
            sum(1 for c in comps if len(c) == 1) if verts else None,
            max((len(c) for c in comps), default=None),
            len(verts) or None,
        )
    return out


def test_cluster_sweep_matches_per_threshold_cc(spark):
    rng = random.Random(9)
    pairs = []
    seen = set()
    for _ in range(120):
        a, b = rng.randrange(40), rng.randrange(40)
        if a == b or (a, b) in seen or (b, a) in seen:
            continue
        seen.add((a, b))
        pairs.append((f"v{a:02d}", f"v{b:02d}", round(rng.random(), 3)))
    df = spark.createDataFrame(pairs, "id_a string, id_b string, score double")
    ths = [0.8, 0.5, 0.3]
    out = _sweep_both(df, ths)
    assert out == _sweep_oracle(pairs, ths)
    # monotone: entity count non-increasing as threshold drops
    ordered = [out[t][2] for t in sorted(ths, reverse=True)]
    assert ordered == sorted(ordered, reverse=True)


NAN = float("nan")
SWEEP_GRAPHS = {
    # scores exactly equal to a threshold qualify at it
    "ties": [
        ("a", "b", 0.5), ("b", "c", 0.25), ("c", "d", 0.25),
        ("e", "f", 0.75), ("f", "g", 0.5), ("h", "i", 0.1),
    ],
    # null scores never qualify but their endpoints are records; NaN
    # qualifies at every threshold in Spark
    "null_nan": [
        ("a", "b", None), ("b", "c", NAN), ("c", "d", 0.6),
        ("e", "f", NAN), ("g", "h", None), ("h", "i", 0.3),
    ],
    # duplicate rows, both orientations, self-loops, null ids
    "messy": [
        ("a", "b", 0.9), ("a", "b", 0.9), ("b", "a", 0.4), ("c", "b", 0.6),
        ("b", "c", 0.2), ("d", "d", 0.9), ("e", "e", 0.8), ("e", "f", 0.5),
        (None, "g", 0.9), ("h", None, 0.9), ("i", "j", 0.1),
    ],
    "empty": [],
}


@pytest.mark.parametrize("name", list(SWEEP_GRAPHS))
def test_cluster_sweep_edge_cases_match_networkx(spark, name):
    """Both sweep paths equal networkx on the predicate traps, with a
    threshold above every score (2.0) in every sweep."""
    edges = SWEEP_GRAPHS[name]
    df = spark.createDataFrame(
        edges or [("x", "y", 1.0)], "id_a string, id_b string, score double"
    )
    if not edges:
        df = df.limit(0)
    ths = [2.0, 0.75, 0.5, 0.25]
    assert _sweep_both(df, ths) == _sweep_oracle(edges, ths)


def test_cluster_sweep_partitioning_invariant(spark):
    rng = random.Random(17)
    pairs = [
        (f"v{rng.randrange(50):02d}", f"v{rng.randrange(50):02d}",
         round(rng.random(), 2))
        for _ in range(80)
    ]
    df = spark.createDataFrame(pairs, "id_a string, id_b string, score double")
    ths = [0.9, 0.6, 0.3]
    one = _sweep_both(df.repartition(1), ths)
    assert _sweep_both(df.repartition(8), ths) == one
    assert one == _sweep_oracle(pairs, ths)


def test_cluster_sweep_job_budget(spark):
    """A 500-edge sweep over 4 levels finishes on the driver: the edge
    probe and the result collect, no per-level jobs."""
    sc = spark.sparkContext
    verts = [f"n{i:03d}" for i in range(501)]
    df = spark.createDataFrame(
        [(a, b, (i % 100) / 100) for i, (a, b) in enumerate(zip(verts, verts[1:]))],
        "id_a string, id_b string, score double",
    )
    ths = [0.8, 0.6, 0.4, 0.2]
    sc.setJobGroup("sweep-budget", "500-edge sweep")
    try:
        got = _sweep_rows(df, ths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got[0.2][1] == 400 and got[0.2][5] == 501
    assert len(sc.statusTracker().getJobIdsForGroup("sweep-budget")) <= 4


def test_cluster_sweep_empty_thresholds_raises(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        cluster_sweep,
    )

    df = spark.createDataFrame(
        [("a", "b", 0.9)], "id_a string, id_b string, score double"
    )
    with pytest.raises(ValueError):
        cluster_sweep(df, [])


def _hac_naive(pairs, thr, mode):
    """Independent naive HAC reference: recompute every cluster-pair
    linkage from the raw similarity dict each round (no Lance-Williams
    updates) — a genuinely different code path from the operator's
    vectorized matrix kernel."""
    sim = {}
    nodes = set()
    for a, b, s in pairs:
        a, b = str(a), str(b)
        if a == b or s <= 0:
            continue
        nodes |= {a, b}
        sim[frozenset((a, b))] = max(sim.get(frozenset((a, b)), 0.0), s)
    clusters = {n: {n} for n in nodes}

    def link(A, B):
        vals = [
            sim.get(frozenset((x, y)), 0.0) for x in clusters[A] for y in clusters[B]
        ]
        if mode == "single":
            return max(vals)
        if mode == "complete":
            return min(vals)
        return sum(vals) / len(vals)

    while len(clusters) > 1:
        best = None
        for A in clusters:
            for B in clusters:
                if A >= B:
                    continue
                lv = link(A, B)
                if lv >= thr and (
                    best is None
                    or lv > best[0]
                    or (lv == best[0] and (A, B) < (best[1], best[2]))
                ):
                    best = (lv, A, B)
        if best is None:
            break
        _, A, B = best
        merged = clusters.pop(A) | clusters.pop(B)
        clusters[min(A, B)] = merged
    return {n: lab for lab, ms in clusters.items() for n in ms}


@pytest.mark.parametrize("mode", ["single", "complete", "average"])
def test_hac_matches_naive_reference(spark, mode):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        hac_clusters,
    )

    rng = random.Random(13)
    pairs = []
    seen = set()
    for _ in range(80):
        a, b = rng.randrange(25), rng.randrange(25)
        if a == b or (a, b) in seen or (b, a) in seen:
            continue
        seen.add((a, b))
        # coarse grid keeps cross-implementation float ties exact
        pairs.append((f"n{a:02d}", f"n{b:02d}", rng.randrange(1, 20) / 20.0))
    df = spark.createDataFrame(pairs, "id_a string, id_b string, score double")
    got = {r.node: r.cluster for r in hac_clusters(df, 0.5, mode).collect()}
    want = _hac_naive(pairs, 0.5, mode)
    assert got == want


def test_hac_single_equals_cc_at_threshold(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        hac_clusters,
    )

    rng = random.Random(21)
    pairs = [
        (f"v{rng.randrange(40):02d}", f"v{rng.randrange(40):02d}",
         round(rng.random(), 2))
        for _ in range(100)
    ]
    pairs = [(a, b, s) for a, b, s in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a string, id_b string, score double")
    got = {r.node: r.cluster for r in hac_clusters(df, 0.5, "single").collect()}
    # CC over >= threshold edges, restricted to nodes with ANY
    # positive-scored edge (hac's node universe)
    g = nx.Graph()
    g.add_nodes_from(
        {x for a, b, s in pairs if s > 0 for x in (a, b)}
    )
    g.add_edges_from((a, b) for a, b, s in pairs if s >= 0.5)
    want = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for v in comp:
            want[v] = root
    assert got == want


def test_hac_complete_does_not_chain(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        hac_clusters,
    )

    pairs = [("a", "b", 0.9), ("b", "c", 0.9), ("a", "c", 0.1)]
    df = spark.createDataFrame(pairs, "id_a string, id_b string, score double")
    # complete: {a,b} forms at 0.9; adding c needs min(0.9, 0.1) -> no
    got = {r.node: r.cluster for r in hac_clusters(df, 0.5, "complete").collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}
    # average: ({a,b}, c) linkage = (0.9+0.1)/2 = 0.5 >= 0.5 -> yes
    got = {r.node: r.cluster for r in hac_clusters(df, 0.5, "average").collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}
    # single chains everything at 0.5
    got = {r.node: r.cluster for r in hac_clusters(df, 0.5, "single").collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_hac_partitioning_invariant_and_guards(spark):
    from aml_entity_resolution_assignment_spark.operators.cluster import (
        hac_clusters,
    )

    rng = random.Random(2)
    pairs = [
        (rng.randrange(30), rng.randrange(30), rng.randrange(1, 10) / 10.0)
        for _ in range(60)
    ]
    pairs = [(a, b, s) for a, b, s in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long, score double")
    a = sorted(map(tuple, hac_clusters(df, 0.4, "complete").collect()))
    b = sorted(
        map(tuple, hac_clusters(df.repartition(11), 0.4, "complete").collect())
    )
    assert a == b
    with pytest.raises(ValueError):
        hac_clusters(df, 0.0)
    with pytest.raises(ValueError):
        hac_clusters(df, 0.5, "ward")
    with pytest.raises(Exception, match="max_block"):
        hac_clusters(df, 0.1, "single", max_block=3).collect()
