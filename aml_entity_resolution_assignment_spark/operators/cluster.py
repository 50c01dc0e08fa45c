"""Transitive closure via connected components.

Reference: resolve_entities (/root/reference/src/matching.py:572-596)
builds an in-memory networkx graph — impossible at 10^12 edges. Here
the edge list is sized first: an edge set of at most DRIVER_CC_EDGES
rows is collected and finished on the driver by one path-compressed
union-find pass (the reference's in-memory choice, where it fits);
above the cap, the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) runs as pure DataFrame self-joins + window mins, converging in
O(log n) rounds regardless of component diameter. Each round
localCheckpoints to cut lineage (SURVEY.md §4 hard part 1).

Component labels are min(record_id) per component on both paths —
deterministic, unlike the reference's enumeration-order ENT_{i} labels
(matching.py:590-591); evaluation is label-invariant (§2.8) so parity
holds.

Step semantics (ids compared lexicographically; '<' = smaller id):

  large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
  small-star(u): over down-oriented edges (v <= u):
                 m = min(N≤(u) ∪ {u}); emit (v, m) for v ∈ N≤(u) ∪ {u}, v ≠ m

Both emit down-oriented (child, parent) edges; the fixpoint is a forest
of depth-1 stars rooted at each component's minimum.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge sets up to this many rows finish on the driver (one union-find
# pass); larger ones run the distributed star rounds.
DRIVER_CC_EDGES = 200_000


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Precondition: `edges` is single-orientation (the canonicalized
    input, or small-star output, which is down-oriented): no pair
    appears as both (u, v) and (v, u). Duplicate rows are allowed —
    they pass through and are tolerated downstream (large-star's
    window min is duplicate-blind, small-star ends in a distinct), so
    no extra dedup shuffle runs per round."""
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(sym_edges: DataFrame) -> DataFrame:
    """Emit (v, m) for each neighbor v > u, m = min(N(u) ∪ {u}).

    ONE exchange: m comes from a min-over-partition window instead of
    the former groupBy + self-join — both formulations need
    hashpartitioning(u), but the join re-shuffled (or at best
    ReusedExchange'd) sym_edges a second time and added a join build
    per round (guide §2.4: two operations keyed the same way share one
    exchange).  Output may contain duplicate (child, parent) rows (two
    neighbors of v sharing the same min) — small-star's window-min is
    duplicate-blind and its final distinct dedupes."""
    from pyspark.sql import Window

    w = Window.partitionBy("u")
    return (
        sym_edges.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("child"), F.col("m").alias("parent"))
    )


def _small_star(down_edges: DataFrame) -> DataFrame:
    """Input (child, parent) with parent <= child. For each child u with
    down-neighbors N≤(u): m = min(N≤(u)); re-hang every down-neighbor
    and u itself onto m.

    ONE exchange + the final distinct: m is a min-over-partition
    window; each row emits its re-hung edge (parent -> m) and, on the
    rows where parent == m (at least one per child), the child's own
    (child -> m) edge — one explode instead of the former
    groupBy + join + union, whose extra shuffle and double traversal
    the window form drops.  Duplicate emissions collapse in the
    distinct exactly as before."""
    from pyspark.sql import Window

    w = Window.partitionBy("child")
    rows = down_edges.withColumn("m", F.min("parent").over(w))
    rehung = F.struct(
        F.col("parent").alias("child"), F.col("m").alias("parent")
    )
    selfrow = F.struct(
        F.col("child").alias("child"), F.col("m").alias("parent")
    )
    emitted = F.when(
        F.col("parent") == F.col("m"), F.array(rehung, selfrow)
    ).otherwise(F.array(rehung))
    return (
        rows.select(F.explode(emitted).alias("_e"))
        .select(F.col("_e.child").alias("child"), F.col("_e.parent").alias("parent"))
        .where(F.col("child") != F.col("parent"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "url",
    max_iter: int = 50,
) -> DataFrame:
    """(id_a, id_b) match edges [+ all-vertex DataFrame] ->
    (id_col, predicted_entity_id) with label = min member id.

    Singletons (vertices without edges) keep themselves as their
    component (reference adds ALL nodes, matching.py:580).

    Driver finish: the canonical edge list is probed with
    limit(DRIVER_CC_EDGES + 1); when it holds at most DRIVER_CC_EDGES
    rows, one union-find pass over the collected rows labels every
    endpoint and the assignment comes back through Arrow — no star
    rounds, no convergence jobs. Above the cap the distributed
    large-star/small-star rounds run. Labels are identical on both
    paths (min member id in binary string order, which Python `str`
    order equals).

    The distributed rounds size their shuffles to the shrinking edge
    set by setting spark.sql.shuffle.partitions around each round's job
    ONLY (set immediately before the collect, restored immediately
    after — not across the loop body), because AQE with
    parallelismFirst=true refuses to coalesce tiny shuffles and the
    O(log n) tail otherwise pays fixed per-task cost x partitions x
    stages. The conf is session-shared: a query on the SAME session
    that is planned during a round's job window (streaming
    foreachBatch, parallel jobs) sees the shrunken value. Graphs within
    DRIVER_CC_EDGES never reach the rounds, so never touch the conf.
    """
    # canonical orientation: _symmetrize's no-dedup union relies on the
    # input never containing both (a,b) and (b,a) — least/greatest
    # guarantees that on its own. No up-front distinct (guide §2.4: a
    # distinct on near-unique data is a full extra exchange of the raw
    # edge list, keyed (u,v) while round 1 re-shuffles by u anyway):
    # duplicate rows are harmless for one round — large-star's
    # window-min is duplicate-blind and small-star ends in a distinct,
    # so every round-1 output onward is exact — and to union-find.
    e = (
        edges.select(
            F.least(
                F.col("id_a").cast("string"), F.col("id_b").cast("string")
            ).alias("u"),
            F.greatest(
                F.col("id_a").cast("string"), F.col("id_b").cast("string")
            ).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )
    spark = edges.sparkSession
    # LAZY checkpoint: the probe materializes the partitions it reads
    # (the take stops at cap + 1 rows), and round 1 reuses them when the
    # graph is over the cap
    cur = e.localCheckpoint(eager=False)  # any orientation
    probe = cur.limit(DRIVER_CC_EDGES + 1).collect()
    if len(probe) <= DRIVER_CC_EDGES:
        # from pandas through Arrow: no Python RDD, no Python workers
        assign = spark.createDataFrame(
            pd.DataFrame(
                _unionfind_relabel([(r["u"], r["v"]) for r in probe]),
                columns=["member", "component"],
            ),
            "member string, component string",
        )
    else:
        assign = _star_rounds(cur, max_iter)

    if vertices is not None:
        verts = (
            vertices.select(F.col(id_col).cast("string").alias("member")).distinct()
        )
        assign = verts.join(assign, "member", "left").select(
            "member", F.coalesce("component", "member").alias("component")
        )
    return assign.select(
        F.col("member").alias(id_col),
        F.col("component").alias("predicted_entity_id"),
    )


def _star_rounds(cur: DataFrame, max_iter: int) -> DataFrame:
    """The distributed CC: alternating large-star/small-star rounds over
    canonical (u, v) edges, one fused job per round, until the edge set
    stops changing. Returns (member, component) for every endpoint."""
    spark = cur.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig_parts = spark.conf.get(conf_key)
    adaptive: int | None = None

    def _run_round(df):
        """Execute one round's fused job (checkpoint write +
        convergence aggregate) with the shuffle-partition override
        scoped to exactly this call — the session conf is restored
        before returning, so the mutation window is the job itself,
        not the loop body (ADVICE r3: don't leave a shrunken count
        visible to concurrent planners any longer than necessary)."""
        if adaptive is None:
            return df.collect()[0]
        spark.conf.set(conf_key, str(adaptive))
        try:
            return df.collect()[0]
        finally:
            spark.conf.set(conf_key, orig_parts)

    prev_sig: tuple | None = None
    for _ in range(max_iter):
        ls = _large_star(_symmetrize(cur))
        # LAZY checkpoint: the signature aggregation below is
        # the action that materializes it, so each round is ONE
        # job (checkpoint write + convergence check fused).
        # (Fusing TWO star rounds per job was measured and rejected:
        # the pair-granularity convergence check runs one extra
        # full-cost round that cancels the saved driver trip.)
        ss = _small_star(ls).localCheckpoint(eager=False)
        # convergence check: the edge set is stable when
        # (count, order-independent hash sum) repeats — a
        # collision needs two distinct edge sets with equal
        # 64-bit hash sums in the same run (~2^-64 per round)
        row = _run_round(
            ss.agg(
                F.count("*").alias("n"),
                # decimal(38,0) sum: overflow-proof under ANSI mode
                F.sum(
                    F.xxhash64("child", "parent").cast("decimal(38,0)")
                ).alias("h"),
            )
        )
        sig = (row["n"], row["h"])
        if row["n"] == 0 or sig == prev_sig:
            break
        prev_sig = sig
        # the convergence aggregate gives the next round's input
        # size for free: size the iterative shuffles to the data
        # (~100k edges/partition), capped at the session setting
        # so a cluster-sized config is never exceeded — an
        # iterative loop otherwise pays fixed per-task cost x
        # partitions x stages x O(log n) rounds on tiny tails
        # purely data-derived (no fixed floor): tiny tails run 1-few
        # partitions instead of 8 near-empty tasks per exchange x 3
        # exchanges x O(log n) rounds; big rounds still scale up to the
        # session cap
        adaptive = max(1, min(int(orig_parts), row["n"] // 100_000 + 1))
        cur = ss.select(
            F.col("child").alias("u"), F.col("parent").alias("v")
        )
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # fixpoint: (child, parent=component root). Roots map to themselves.
    assign = ss.select(
        F.col("child").alias("member"), F.col("parent").alias("component")
    )
    roots = (
        assign.select(F.col("component").alias("member"))
        .distinct()
        .select("member", F.col("member").alias("component"))
    )
    return (
        assign.unionByName(roots)
        .groupBy("member")
        .agg(F.min("component").alias("component"))
    )


def incremental_connected_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    id_col: str = "url",
    label_col: str = "predicted_entity_id",
    max_iter: int = 50,
) -> DataFrame:
    """Fold a batch of NEW match edges into an existing component
    assignment WITHOUT re-running CC over the full graph — the
    streaming/incremental form of connected_components, exact vs a
    full recompute (tests + oracle pin equality).

    At 10^12 docs the full-graph recompute is O(E log n) per batch;
    here the batch only ever touches:

      1. two joins mapping the batch edges' endpoints to their current
         component labels (endpoints unseen by `assignments` map to
         themselves — new vertices need no pre-registration),
      2. CC over the CONTRACTED component graph — one node per touched
         component, so its size is bounded by the batch, not the
         corpus (label = min member id is preserved under contraction:
         min over merged components' labels = min over their members),
      3. ONE broadcast hash join of the tiny (old label -> new label)
         mapping against the big assignment table.

    The big table is scanned once and never shuffled. Returns the full
    updated assignment (old rows relabeled where merged + rows for
    vertices first seen in `new_edges`)."""
    relabel, fresh = incremental_cc_delta(
        assignments, new_edges, id_col=id_col, label_col=label_col,
        max_iter=max_iter,
    )
    return apply_cc_delta(assignments, relabel, fresh, id_col, label_col)


class _UnionFind:
    """Driver-side union-find over string nodes: path compression plus
    union by size, with each root's component size kept for callers
    that count (cluster_sweep)."""

    def __init__(self) -> None:
        self.parent: dict[str, str] = {}
        self.size: dict[str, int] = {}

    def add(self, x: str) -> None:
        if x not in self.parent:
            self.parent[x] = x
            self.size[x] = 1

    def find(self, x: str) -> str:
        parent = self.parent
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: str, b: str) -> tuple[int, int] | None:
        """Join the components of two added nodes. Returns the sizes of
        the two components merged, or None when they already were one."""
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return None
        na, nb = self.size[ra], self.size[rb]
        if na < nb:
            ra, rb = rb, ra
        self.parent[rb] = ra
        self.size[ra] = na + nb
        return na, nb


def _unionfind_relabel(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side connected components over a driver-sized edge list:
    (node, min-member-label) for EVERY node incident to `edges` — the
    exact (member, component) contract of _star_rounds, with the same
    lexicographic (binary UTF-8 == code-point) string ordering.
    Deterministic regardless of edge order because the final label is
    the global min per component."""
    uf = _UnionFind()
    for a, b in edges:
        uf.add(a)
        uf.add(b)
        uf.union(a, b)
    best: dict[str, str] = {}
    for node in uf.parent:
        r = uf.find(node)
        if r not in best or node < best[r]:
            best[r] = node
    return [(node, best[uf.find(node)]) for node in uf.parent]


def incremental_cc_delta(
    assignments: DataFrame,
    new_edges: DataFrame,
    id_col: str = "url",
    label_col: str = "predicted_entity_id",
    max_iter: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """The DELTA form of incremental CC — what a streaming maintainer
    persists per micro-batch instead of rewriting the whole assignment:

      relabel: (old_label, new_label) for every touched component —
               bounded by the batch, broadcastable
      fresh:   (id_col, label_col) rows for vertices first seen in
               `new_edges`

    apply_cc_delta folds these onto an assignment table lazily."""
    a = assignments.select(
        F.col(id_col).cast("string").alias("_m"),
        F.col(label_col).cast("string").alias("_c"),
    )
    e = new_edges.select(
        F.col("id_a").cast("string").alias("_ea"),
        F.col("id_b").cast("string").alias("_eb"),
    )
    # endpoints -> current component (identity for unseen vertices)
    ea = a.select(F.col("_m").alias("_ea"), F.col("_c").alias("_ca"))
    eb = a.select(F.col("_m").alias("_eb"), F.col("_c").alias("_cb"))
    mapped = (
        e.join(ea, "_ea", "left")
        .join(eb, "_eb", "left")
        .select(
            F.coalesce("_ca", F.col("_ea")).alias("id_a"),
            F.coalesce("_cb", F.col("_eb")).alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )
    # contracted component graph: bounded by the batch size — the SAME
    # premise that already lets `relabel` broadcast below, and the one
    # that usually lets connected_components finish it on the driver
    relabel = connected_components(
        mapped, id_col="comp", max_iter=max_iter
    ).select(
        F.col("comp").alias("old_label"),
        F.col("predicted_entity_id").alias("new_label"),
    )
    # vertices first seen in this batch: the contracted graph's verdict
    # (or themselves, when every edge collapsed to a self-loop)
    new_verts = (
        e.select(F.col("_ea").alias("_m"))
        .unionByName(e.select(F.col("_eb").alias("_m")))
        .distinct()
        .join(a.select("_m"), "_m", "left_anti")
    )
    fresh = new_verts.join(
        F.broadcast(relabel.withColumnRenamed("old_label", "_m")), "_m", "left"
    ).select(
        F.col("_m").alias(id_col),
        F.coalesce("new_label", F.col("_m")).alias(label_col),
    )
    return relabel, fresh


def apply_cc_delta(
    assignments: DataFrame,
    relabel: DataFrame,
    fresh: DataFrame,
    id_col: str = "url",
    label_col: str = "predicted_entity_id",
) -> DataFrame:
    """Fold one (relabel, fresh) delta onto an assignment table: ONE
    broadcast hash join for the relabel + a union of the fresh rows."""
    a = assignments.select(
        F.col(id_col).cast("string").alias(id_col),
        F.col(label_col).cast("string").alias("_c"),
    )
    updated = a.join(
        F.broadcast(relabel), a["_c"] == relabel["old_label"], "left"
    ).select(
        id_col,
        F.coalesce("new_label", F.col("_c")).alias(label_col),
    )
    return updated.unionByName(
        fresh.select(
            F.col(id_col).cast("string").alias(id_col),
            F.col(label_col).cast("string").alias(label_col),
        )
    )


def resolve_entities(
    classified: DataFrame, keyed: DataFrame, id_col: str = "url"
) -> DataFrame:
    """G1+G2 (matching.py:572-596): edges = pairs with is_match=1,
    vertices = every record (singletons included)."""
    edges = classified.where(F.col("is_match") == 1).select("id_a", "id_b")
    return connected_components(edges, vertices=keyed, id_col=id_col)


def cluster_cohesion(
    labels: DataFrame,
    scored_edges: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Per-cluster quality diagnostics — the monitoring table an ER
    deployment watches to catch over-merging before users do: for each
    cluster, its size, internal edge count/strength (avg + weakest
    edge — a low min_score flags a bridge edge gluing two real
    entities), internal density vs the complete graph, and how many
    scored edges cross the cluster boundary (boundary_ratio ~ 0 means
    well-separated).

    Scale shape: two hydration joins label the edge endpoints, one
    groupBy per side for the boundary counts, one for the intra
    metrics, one for sizes — all shuffles keyed by cluster id, the
    same key AND cardinality as the clustering output itself. No
    per-cluster iteration, no collect; singleton clusters (no edges)
    survive via the left joins with density 1.0 by convention.
    """
    la = labels.select(
        F.col(id_col).alias("id_a"), F.col(label_col).alias("_ca")
    )
    lb = labels.select(
        F.col(id_col).alias("id_b"), F.col(label_col).alias("_cb")
    )
    e = scored_edges.join(la, "id_a").join(lb, "id_b")

    intra = (
        e.where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias(label_col))
        .agg(
            F.count("*").alias("n_edges"),
            F.avg(score_col).alias("_avg"),
            F.min(score_col).alias("_min"),
        )
    )
    # a crossing edge is a boundary edge of BOTH endpoint clusters
    cross = e.where(F.col("_ca") != F.col("_cb"))
    out = (
        cross.select(F.col("_ca").alias(label_col))
        .unionAll(cross.select(F.col("_cb").alias(label_col)))
        .groupBy(label_col)
        .agg(F.count("*").alias("out_edges"))
    )
    sizes = labels.groupBy(
        F.col(label_col).alias(label_col)
    ).agg(F.count("*").alias("n_nodes"))

    full = (
        sizes.join(intra, label_col, "left")
        .join(out, label_col, "left")
        .select(
            label_col,
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.round(F.coalesce("_avg", F.lit(0.0)), 6).alias("avg_score"),
            F.round(F.coalesce("_min", F.lit(0.0)), 6).alias("min_score"),
            F.coalesce("out_edges", F.lit(0)).alias("out_edges"),
        )
    )
    possible = (F.col("n_nodes") * (F.col("n_nodes") - 1)) / 2.0
    density = F.when(F.col("n_nodes") == 1, F.lit(1.0)).otherwise(
        F.col("n_edges") / possible
    )
    denom = F.col("n_edges") + F.col("out_edges")
    return full.select(
        "*",
        F.round(density, 6).alias("density"),
        F.round(
            F.when(denom > 0, F.col("out_edges") / denom).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("boundary_ratio"),
    )


def cluster_diff(
    labels_a: DataFrame,
    labels_b: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "cluster",
) -> DataFrame:
    """Transition table between two clusterings of the same records —
    the entity-churn report between resolution runs (what re-blocking,
    a model update, or new data DID to the entities): each
    (cluster_a, cluster_b) cell carries its record count and a fate
    classified from the cell's row/column degree:

      stable      — a maps to exactly one b and vice versa
      split       — a fans out to several b (entity broke apart)
      merge       — several a collapse into one b
      rearranged  — both (records moved between entities)

    One inner join on the record id + one groupBy to the transition
    cells + two degree aggregates joined back — every shuffle is keyed
    by cluster id; cells, not records, flow after the first groupBy.
    """
    a = labels_a.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("cluster_a")
    )
    b = labels_b.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("cluster_b")
    )
    cells = (
        a.join(b, "_id")
        .groupBy("cluster_a", "cluster_b")
        .agg(F.count("*").alias("n"))
    )
    deg_a = cells.groupBy("cluster_a").agg(
        F.count("*").alias("_deg_a")
    )
    deg_b = cells.groupBy("cluster_b").agg(
        F.count("*").alias("_deg_b")
    )
    fate = (
        F.when((F.col("_deg_a") == 1) & (F.col("_deg_b") == 1), "stable")
        .when((F.col("_deg_a") > 1) & (F.col("_deg_b") == 1), "split")
        .when((F.col("_deg_a") == 1) & (F.col("_deg_b") > 1), "merge")
        .otherwise("rearranged")
    )
    return (
        cells.join(deg_a, "cluster_a")
        .join(deg_b, "cluster_b")
        .select("cluster_a", "cluster_b", "n", fate.alias("fate"))
    )


def stable_entity_ids(
    current: DataFrame,
    previous: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster",
    entity_col: str = "entity_id",
    new_prefix: str = "new:",
) -> DataFrame:
    """Persistent entity IDs across resolution runs: re-label this
    run's clusters with the PREVIOUS run's published entity ids
    wherever the clusters demonstrably continue an old entity, so
    downstream consumers (case management, watchlists, feature
    stores) keep stable keys while records churn underneath.

    Matching rule — maximum-overlap with mutual-best 1:1 assignment:
    each (cluster, prev_entity) overlap cell is counted from the
    records both runs share; a cluster inherits a previous id iff
    that id is the cluster's largest overlap AND the cluster is that
    id's largest overlap (ties break on the partner key ascending, so
    output is deterministic and partitioning-invariant). Mutual-best
    is the distributed relaxation of greedy weight-ordered assignment
    (same argument as joins.mutual_best_match): no global sequencing,
    never double-assigns an id, and a pure split keeps the old id on
    its biggest surviving fragment — exactly the continuity users
    expect. Clusters with no carried id (brand-new entities, or
    fragments that lost the argmax) mint ``new_prefix + cluster``,
    which is deterministic across re-runs of the same input.

    Scale shape: one record-keyed inner join to the overlap cells,
    then every shuffle is keyed by cluster/entity id over CELLS (not
    records) — two ranking windows + one cluster-keyed join back to
    the assignment. No iteration, no driver state.

    Returns (id_col, cluster_col, entity_col, carried): one row per
    CURRENT record; records the previous run had but this run lost
    do not appear (their entities simply end).
    """
    from pyspark.sql import Window

    cur = current.select(
        F.col(id_col).alias(id_col),
        F.col(cluster_col).cast("string").alias(cluster_col),
    )
    prev = previous.select(
        F.col(id_col).alias(id_col),
        F.col(entity_col).cast("string").alias("_prev_e"),
    )
    cells = (
        cur.join(prev, id_col)
        .groupBy(cluster_col, "_prev_e")
        .agg(F.count("*").alias("_n"))
    )
    w_c = Window.partitionBy(cluster_col).orderBy(
        F.col("_n").desc(), F.col("_prev_e")
    )
    w_e = Window.partitionBy("_prev_e").orderBy(
        F.col("_n").desc(), F.col(cluster_col)
    )
    carried = (
        cells.withColumn("_rc", F.row_number().over(w_c))
        .withColumn("_re", F.row_number().over(w_e))
        .where((F.col("_rc") == 1) & (F.col("_re") == 1))
        .select(cluster_col, "_prev_e")
    )
    return cur.join(carried, cluster_col, "left").select(
        id_col,
        cluster_col,
        F.coalesce(
            F.col("_prev_e"),
            F.concat(F.lit(new_prefix), F.col(cluster_col)),
        ).alias(entity_col),
        F.col("_prev_e").isNotNull().alias("carried"),
    )


def _seeded_rank(col: str, seed: int):
    """60-bit permutation rank: first 15 hex chars of
    md5(id || '|' || seed) — byte-identical in DuckDB as
    ('0x' || substr(md5(id::varchar || '|seed'), 1, 15))::UBIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.col(col), F.lit(f"|{seed}"))), 1, 15),
        16,
        10,
    ).cast("long")


def _seeded_sym(
    edges: DataFrame, id_a: str, id_b: str, seed: int
) -> DataFrame:
    """Symmetrized distinct string-id edge set (u, v) annotated with the
    seeded permutation ranks (pu, pv) of both endpoints — the shared
    input shape of the lex-first-MIS family (pivot_clusters,
    canopies)."""
    # canonicalize BEFORE the dedup so one distinct suffices: with half
    # single-orientation (least/greatest) and distinct, the union with
    # its flip IS the distinct symmetric set — the former second
    # distinct re-shuffled the doubled edge list for nothing (guide
    # §2.4)
    half = (
        edges.select(
            F.least(
                F.col(id_a).cast("string"), F.col(id_b).cast("string")
            ).alias("u"),
            F.greatest(
                F.col(id_a).cast("string"), F.col(id_b).cast("string")
            ).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return (
        half.unionByName(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .withColumn("pu", _seeded_rank("u", seed))
        .withColumn("pv", _seeded_rank("v", seed))
    )


def _lex_first_mis(
    sym: DataFrame, nodes: DataFrame, max_iter: int, what: str
) -> DataFrame | None:
    """Lexicographically-first maximal independent set of the (u, v,
    pu, pv) symmetric graph under the (rank, id) total order — by
    O(log n)-w.h.p. rounds of "every active node with no smaller-rank
    active neighbor enters; it and its neighbors deactivate"
    (Blelloch, Fineman & Shun 2012: identical output to the sequential
    greedy scan). Each round removes at least the global minimum, so
    termination is unconditional; localCheckpoint per round cuts
    lineage like connected_components. Returns the member nodes (u),
    or None when `nodes` is empty."""
    active_e = sym.localCheckpoint(eager=False)
    active_n = nodes.localCheckpoint(eager=False)
    parts: list[DataFrame] = []
    total_members = 0
    for _ in range(max_iter):
        # a node is BEATEN while any active neighbor precedes it.
        # beaten/claimed/removed feed ONLY semi/anti-join right sides,
        # which are duplicate-agnostic — deduping them was three extra
        # exchanges per round for sets whose hash builds dedup for free
        # (guide §2.4)
        beaten = active_e.where(
            (F.col("pv") < F.col("pu"))
            | ((F.col("pv") == F.col("pu")) & (F.col("v") < F.col("u")))
        ).select("u")
        new_members = active_n.join(beaten, "u", "left_anti").localCheckpoint(
            eager=False
        )
        parts.append(new_members)
        # deactivate the new members and everything adjacent to them
        claimed = active_e.join(
            new_members.select(F.col("u").alias("v")), "v", "left_semi"
        ).select("u")
        removed = new_members.unionByName(claimed)
        active_n = active_n.join(removed, "u", "left_anti").localCheckpoint(
            eager=False
        )
        active_e = (
            active_e.join(removed, "u", "left_anti")
            .join(removed.select(F.col("u").alias("v")), "v", "left_anti")
            .localCheckpoint(eager=False)
        )
        # ONE fused job per round (was 4: isEmpty + 3 eager
        # checkpoints): this tagged union-aggregate materializes
        # new_members (through the anti-join lineage), the surviving
        # node set and the surviving edge set, and returns the round's
        # member/active counts in the same action
        row = (
            active_n.select(F.lit("n").alias("_t"))
            .unionByName(new_members.select(F.lit("m").alias("_t")))
            .unionByName(active_e.select(F.lit("e").alias("_t")))
            .agg(
                F.sum((F.col("_t") == "n").cast("long")).alias("n_active"),
                F.sum((F.col("_t") == "m").cast("long")).alias("n_members"),
            )
            .collect()[0]
        )
        total_members += row["n_members"] or 0
        if not (row["n_active"] or 0):
            break
    else:
        raise RuntimeError(f"{what} did not converge in {max_iter} rounds")

    # zero members over all rounds <=> `nodes` was empty (a non-empty
    # active set always elects at least its global minimum)
    if total_members == 0:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pivot_clusters(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed: int = 7,
    max_iter: int = 40,
) -> DataFrame:
    """KwikCluster / PIVOT correlation clustering (Ailon, Charikar &
    Newman 2008 — the 3-approximation used throughout the dedup/ER
    literature as the principled alternative to CC's merge-everything
    transitivity) in its deterministic parallel form.

    Sequential PIVOT scans nodes in a random permutation pi; an
    unassigned node becomes a cluster PIVOT and claims all its
    unassigned neighbors. Two classical facts make this distributable
    (Blelloch, Fineman & Shun 2012; Chierichetti, Dalvi & Kumar,
    KDD'14):

      * the pivot set is exactly the lexicographically-first MIS under
        pi, computable by O(log n)-w.h.p. rounds of "every active node
        with no smaller-pi active neighbor enters the MIS; it and its
        neighbors deactivate";
      * each non-pivot's cluster is simply the min-pi pivot in its
        neighborhood (the first pivot that could have claimed it).

    pi is a seeded md5-low60 of the node id (same `conv(substr(md5))`
    identity the HLL/simhash oracles pin, so a DuckDB twin replays the
    permutation exactly), tie-broken by id — fully deterministic and
    partitioning-invariant.

    Scale shape: per round, one groupBy-free anti-join cascade over the
    SHRINKING active edge set (each round removes at least the global
    min-pi node and w.h.p. a constant fraction), localCheckpoint per
    round like connected_components; the final assignment is one
    semi-join + min_by aggregation on the original edges. No window
    over corpus-scale rows, no driver-side graph.

    Returns (node, cluster) over the nodes incident to `edges`;
    cluster = pivot id. Callers wanting isolated vertices union them
    in as self-clusters (same contract as star_clusters).
    """

    # materialize once: sym feeds the node set, the MIS rounds AND the
    # final attachment join — without this each branch re-executes the
    # upstream pair-generation lineage
    sym = _seeded_sym(edges, id_a, id_b, seed).localCheckpoint(eager=False)
    all_nodes = sym.select("u").distinct()
    pivots = _lex_first_mis(sym, all_nodes, max_iter, "pivot_clusters")
    if pivots is None:  # empty edge set: no incident nodes, no output
        return all_nodes.select(
            F.col("u").alias("node"), F.col("u").alias("cluster")
        )

    own = pivots.select(F.col("u").alias("node"), F.col("u").alias("cluster"))
    # every non-pivot joins the min-pi pivot among its neighbors
    # (non-empty by MIS maximality)
    sat = (
        sym.join(
            pivots.select(F.col("u").alias("v")), "v", "left_semi"
        )
        .join(pivots, "u", "left_anti")
        .groupBy("u")
        .agg(
            F.min_by(
                F.col("v"),
                F.struct(F.col("pv").alias("p"), F.col("v").alias("i")),
            ).alias("cluster")
        )
        .select(F.col("u").alias("node"), "cluster")
    )
    return own.unionByName(sat)


def hac_clusters(
    scored_edges: DataFrame,
    threshold: float,
    linkage: str = "complete",
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
    max_block: int = 10_000,
) -> DataFrame:
    """Hierarchical agglomerative clustering at a similarity threshold
    — the Dedupe-style clusterer: repeatedly merge the cluster pair
    with the highest linkage similarity until it drops below
    `threshold`. `linkage`:

      single    max cross-pair sim  (== connected components at the
                threshold — pinned by test AND the SQL oracle twin)
      complete  min cross-pair sim  (missing pair = 0: a merge needs
                EVERY cross pair scored >= threshold — never chains)
      average   mean cross-pair sim over |A|x|B| (missing = 0)

    Distributed shape (the only scalable HAC shape): every merge needs
    linkage >= threshold, and max/min/mean >= t each imply at least
    ONE cross pair >= t — so every final cluster is connected in the
    >= threshold graph, and records partition EXACTLY into its
    connected components (connected_components: one driver union-find
    pass up to DRIVER_CC_EDGES threshold edges, star rounds above). The
    sequential merge loop then runs independently per component inside
    one applyInPandas kernel (Arrow-batched, no driver-side graph,
    parallel across components), seeing ALL scored edges between
    component members (sub-threshold ones included — complete/average
    linkage needs them); nodes with
    no >= threshold edge can never merge and short-circuit to
    singleton rows without touching the kernel. Threshold-graph
    components are far smaller than positive-graph components; one
    larger than `max_block` still raises rather than silently OOMing
    an executor.

    Deterministic: merge order ties break on (label_a, label_b) with
    labels = min member id; output labels are min member ids, so the
    result is partitioning-invariant.

    Returns (node, cluster) over all edge endpoints.
    """
    if linkage not in ("single", "complete", "average"):
        raise ValueError(f"hac_clusters: unknown linkage {linkage!r}")
    if not threshold > 0.0:
        raise ValueError(
            "hac_clusters: threshold must be > 0 (zero-score pairs are "
            "'no evidence' and are excluded from the graph)"
        )

    e = (
        scored_edges.select(
            F.col(id_a).cast("string").alias("u"),
            F.col(id_b).cast("string").alias("v"),
            F.col(score_col).cast("double").alias("s"),
        )
        .where((F.col("u") != F.col("v")) & (F.col("s") > 0.0))
        .groupBy("u", "v")
        .agg(F.max("s").alias("s"))
        # lazy: the threshold-graph CC's edge probe materializes it
        .localCheckpoint(eager=False)
    )
    comp = connected_components(
        e.where(F.col("s") >= float(threshold)).select(
            F.col("u").alias("id_a"), F.col("v").alias("id_b")
        ),
        id_col="node",
    ).withColumnRenamed("predicted_entity_id", "comp")
    # kernel input: ALL scored edges whose endpoints share a threshold
    # component (inner joins drop edges touching non-component nodes;
    # cross-component sub-threshold edges can never join a merge)
    ec = (
        e.join(comp.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("comp", "comp_u")
        .join(
            comp.select(F.col("node").alias("v"), F.col("comp")),
            "v",
        )
        .where(F.col("comp_u") == F.col("comp"))
        .select("comp", "u", "v", "s")
    )
    # nodes with any positive edge but no >= threshold edge: permanent
    # singletons, emitted directly
    singles = (
        e.select("u")
        .unionByName(e.select(F.col("v").alias("u")))
        .distinct()
        .join(comp.withColumnRenamed("node", "u"), "u", "left_anti")
        .select(F.col("u").alias("node"), F.col("u").alias("cluster"))
    )

    thr = float(threshold)
    mode = linkage
    cap = int(max_block)

    def _hac(pdf):
        # Lance-Williams matrix HAC: O(n^2) per merge, vectorized row
        # updates — single: max, complete: min, average: size-weighted
        # mean (== mean over all cross pairs with missing = 0, UPGMA)
        import numpy as np
        import pandas as pd

        nodes = sorted(set(pdf["u"]) | set(pdf["v"]))
        n = len(nodes)
        if n > cap:
            raise ValueError(
                f"hac_clusters: component of {n} nodes exceeds "
                f"max_block={cap} — tighten blocking upstream"
            )
        idx = {x: i for i, x in enumerate(nodes)}
        L = np.zeros((n, n), dtype=np.float64)
        for u, v, s in zip(pdf["u"], pdf["v"], pdf["s"]):
            i, j = idx[u], idx[v]
            if s > L[i, j]:
                L[i, j] = L[j, i] = s
        np.fill_diagonal(L, -np.inf)
        active = np.ones(n, dtype=bool)
        size = np.ones(n, dtype=np.float64)
        label = list(nodes)  # cluster label = min member id
        parent = list(range(n))  # row index of each node's cluster

        while active.sum() > 1:
            m = L.max()
            if m < thr:
                break
            # deterministic tie-break: among exact-max pairs, the one
            # with the lexicographically smallest (sorted) label pair
            ii, jj = np.nonzero(L == m)
            best = None
            for i, j in zip(ii.tolist(), jj.tolist()):
                if i >= j:
                    continue
                key = tuple(sorted((label[i], label[j])))
                if best is None or key < best[0]:
                    best = (key, i, j)
            _, i, j = best
            if mode == "single":
                row = np.maximum(L[i], L[j])
            elif mode == "complete":
                row = np.minimum(L[i], L[j])
            else:
                row = (size[i] * L[i] + size[j] * L[j]) / (
                    size[i] + size[j]
                )
            L[i, :] = row
            L[:, i] = row
            L[i, i] = -np.inf
            L[j, :] = -np.inf
            L[:, j] = -np.inf
            size[i] += size[j]
            active[j] = False
            label[i] = min(label[i], label[j])
            for k in range(n):
                if parent[k] == j:
                    parent[k] = i
        return pd.DataFrame(
            {
                "node": nodes,
                "cluster": [label[parent[k]] for k in range(n)],
            }
        )

    return ec.groupBy("comp").applyInPandas(
        _hac, "node string, cluster string"
    ).unionByName(singles)


def cluster_sweep(
    scored_edges: DataFrame,
    thresholds: list[float],
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
    id_col: str = "url",
) -> DataFrame:
    """Match-threshold sweep: entity-count diagnostics at each
    clustering threshold — the standard ER tuning table (Splink's
    "cluster metrics vs. match weight" view): as the threshold drops,
    watch n_entities fall and the largest component grow, and pick the
    knee before a mega-cluster forms.

    Exploits monotonicity instead of re-running CC per threshold:
    thresholds are processed DESCENDING and every looser level only
    adds the newly-qualifying edge band. The edge list is probed with
    limit(DRIVER_CC_EDGES + 1), as connected_components does. At most
    DRIVER_CC_EDGES rows answer every level in one Kruskal-style
    driver pass: edges sorted by score, descending, merge into one
    size-tracking union-find, and each level's counts are read off as
    its threshold is passed — no per-level Spark job. Above the cap the
    tightest level runs full connected_components once and every
    looser level folds in its band via incremental_connected_components
    (contracted-graph merge, the big assignment never reshuffles), one
    size aggregate per level.

    Returns one row per threshold: (threshold, n_edges, n_entities,
    n_singletons, largest_entity, n_records). Records are all endpoints
    of `scored_edges` (self-loops and null ids dropped, null-score
    edges kept as endpoints), so singleton counts are comparable across
    levels. An edge qualifies at threshold t when its score >= t in
    Spark's double order (NaN above every number, null never).
    """
    if not thresholds:
        raise ValueError("cluster_sweep: need at least one threshold")
    levels = sorted(set(float(t) for t in thresholds), reverse=True)

    # lazy: the probe materializes it, and the distributed levels
    # re-read it
    e = (
        scored_edges.select(
            F.col(id_a).cast("string").alias("id_a"),
            F.col(id_b).cast("string").alias("id_b"),
            F.col(score_col).cast("double").alias("s"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .localCheckpoint(eager=False)
    )
    probe = e.limit(DRIVER_CC_EDGES + 1).collect()
    if len(probe) <= DRIVER_CC_EDGES:
        rows = _sweep_on_driver(probe, levels)
    else:
        rows = _sweep_levels(e, levels, id_col)
    return scored_edges.sparkSession.createDataFrame(
        rows,
        "threshold double, n_edges long, n_entities long, "
        "n_singletons long, largest_entity long, n_records long",
    )


def _spark_double_key(x: float) -> tuple[int, float]:
    """Sort key with Spark's double order: NaN above every number
    (Python's NaN comparisons are all false)."""
    return (1, 0.0) if math.isnan(x) else (0, x)


def _sweep_on_driver(edges: list, levels: list[float]) -> list[tuple]:
    """cluster_sweep rows from collected (id_a, id_b, s) edges: one
    size-tracking union-find, edges merged in descending score order."""
    uf = _UnionFind()
    for a, b, _ in edges:
        uf.add(a)
        uf.add(b)
    n_records = len(uf.parent)
    scored = sorted(
        ((_spark_double_key(s), a, b) for a, b, s in edges if s is not None),
        reverse=True,
    )
    n_entities = n_singletons = n_records
    largest = 1
    n_edges = 0
    rows = []
    for t in levels:
        kt = _spark_double_key(t)
        while n_edges < len(scored) and scored[n_edges][0] >= kt:
            merged = uf.union(scored[n_edges][1], scored[n_edges][2])
            n_edges += 1
            if merged:
                na, nb = merged
                n_entities -= 1
                n_singletons -= (na == 1) + (nb == 1)
                largest = max(largest, na + nb)
        if n_records:
            rows.append(
                (t, n_edges, n_entities, n_singletons, largest, n_records)
            )
        else:
            # SQL sum/max over zero entities are NULL (distributed path)
            rows.append((t, 0, 0, None, None, None))
    return rows


def _sweep_levels(e: DataFrame, levels: list[float], id_col: str) -> list[tuple]:
    """cluster_sweep rows for an edge list above DRIVER_CC_EDGES: one CC
    at the tightest level, incremental merges below it."""
    vertices = (
        e.select(F.col("id_a").alias(id_col))
        .unionByName(e.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    rows = []
    assign = None
    prev_t = None
    for t in levels:
        if assign is None:
            assign = connected_components(
                e.where(F.col("s") >= t), vertices=vertices, id_col=id_col
            )
        else:
            band = e.where((F.col("s") >= t) & (F.col("s") < prev_t))
            assign = incremental_connected_components(
                assign, band, id_col=id_col
            )
        # LAZY checkpoint + ONE fused job per level: the crossJoin of the
        # two 1-row aggregates materializes the level's assignment and
        # scans the checkpointed edge table in the same action
        assign = assign.localCheckpoint(eager=False)
        prev_t = t
        sizes = assign.groupBy("predicted_entity_id").agg(
            F.count("*").alias("n")
        )
        agg = (
            sizes.agg(
                F.count("*").alias("n_entities"),
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
                    "n_singletons"
                ),
                F.max("n").alias("largest_entity"),
                F.sum("n").alias("n_records"),
            )
            .crossJoin(
                e.where(F.col("s") >= t).agg(F.count("*").alias("n_edges"))
            )
            .collect()[0]
        )
        rows.append(
            (
                t,
                agg["n_edges"],
                agg["n_entities"],
                agg["n_singletons"],
                agg["largest_entity"],
                agg["n_records"],
            )
        )
    return rows


def canopies(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
    loose: float = 0.2,
    tight: float = 0.35,
    seed: int = 7,
    max_iter: int = 40,
) -> DataFrame:
    """Canopy clustering (McCallum, Nigam & Ungar, KDD 2000) — the
    classic cheap-metric pre-blocking: overlapping canopies built with
    two thresholds, inside which an expensive pairwise method then
    runs. Similarity orientation (not distance): `tight` >= `loose`;
    a point within TIGHT of a chosen center leaves the candidate pool,
    every point within LOOSE of a center joins that center's canopy
    (overlapping — a point may belong to several).

    Deterministic distributed form: sequential canopy picks centers
    greedily over a random permutation, so the center set is exactly
    the lexicographically-first MIS of the TIGHT graph under the
    seeded md5-low60 permutation (`_lex_first_mis`, shared with
    pivot_clusters); membership is then one semi-join of the LOOSE
    edges against the center set plus each center's self-row —
    order-free, because sequential canopy adds EVERY point within
    loose of a new center regardless of prior removal.

    Scale shape: O(log n)-w.h.p. shrinking-graph MIS rounds on the
    tight edges + one constant-shuffle membership join on the loose
    edges. Returns (node, canopy) with canopy = center id; nodes with
    no tight edge always end up centers (never removed from the
    pool), matching the sequential algorithm.
    """
    if tight < loose:
        raise ValueError(
            f"canopies: tight ({tight}) must be >= loose ({loose}) "
            "in similarity orientation"
        )
    # materialize once: scored feeds the node set, the tight graph and
    # the loose membership join
    scored = (
        pairs.select(
            F.col(id_a).cast("string").alias("u"),
            F.col(id_b).cast("string").alias("v"),
            F.col(score_col).cast("double").alias("s"),
        )
        .where(F.col("u") != F.col("v"))
        # lazy: the tight-graph MIS round-1 job materializes it
        .localCheckpoint(eager=False)
    )
    nodes = (
        scored.select("u")
        .unionByName(scored.select(F.col("v").alias("u")))
        .distinct()
    )
    tight_sym = _seeded_sym(
        scored.where(F.col("s") >= tight), "u", "v", seed
    )
    centers = _lex_first_mis(tight_sym, nodes, max_iter, "canopies")
    if centers is None:  # no pairs at all
        return nodes.select(
            F.col("u").alias("node"), F.col("u").alias("canopy")
        )
    # canonical half + flip = the distinct symmetric set with ONE
    # distinct on the half list (guide §2.4; same shape as _seeded_sym)
    loose_half = (
        scored.where(F.col("s") >= loose)
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    loose_sym = loose_half.unionByName(
        loose_half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    member = (
        loose_sym.join(
            centers.select(F.col("u").alias("v")), "v", "left_semi"
        )
        .select(F.col("u").alias("node"), F.col("v").alias("canopy"))
    )
    own = centers.select(F.col("u").alias("node"), F.col("u").alias("canopy"))
    return own.unionByName(member)


def star_clusters(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """One-round star clustering — the classic CC alternative from the
    ER-clustering literature (Aslam/Pelekhov/Rus star covers;
    evaluated for dedup by Hassanzadeh & Miller, VLDB 2009): CC
    transitively merges through every weak bridge, stars DON'T — a
    chain a-b-c-d yields two stars, not one 4-entity.

    Deterministic distributed formulation (no sequential degree-ordered
    scan): a node is a CENTER iff (degree, -id) >= that of every
    neighbor (ties to the smaller id); every non-center attaches to
    its best adjacent center by the same ordering, and a satellite
    with no adjacent center stays a singleton (the one-round
    approximation; the sequential algorithm would re-seed among
    leftovers). Output: (node, cluster) with cluster = center id.

    Scale shape: one degree groupBy, two broadcast-free hash joins
    keyed on node id, one max_by aggregation — a CONSTANT number of
    shuffles, vs CC's O(log n) rounds; at 10^12 edges this is the
    cheap first-pass entity partition. Deterministic and
    partitioning-invariant (all orderings are (degree, -id) structs).
    """
    # materialize once: sym feeds degrees, the annotated edge table and
    # the node list; e feeds the center election AND both attachment
    # branches — unchecked, every branch re-executes the upstream
    # pair-generation lineage
    # (A canonical-half distinct + flip union — the _seeded_sym shape —
    # was measured here and REVERTED: this sym is eagerly checkpointed
    # and scanned by four downstream branches, and the union's doubled
    # partition count cost more than the halved dedup shuffle saved:
    # 1.3 -> 1.44 s over three interleaved A/B pairs at sf0.1.)
    sym = edges.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).unionAll(
        edges.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    ).distinct().localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))

    # rank struct: higher degree wins, then SMALLER id (negate id by
    # sorting on (deg, -id) is wrong for strings — use two-field
    # comparison via max_by on (deg, neg_rank) with id tiebreak below)
    e = (
        sym.join(deg.withColumnRenamed("u", "_n").withColumnRenamed("deg", "deg_u"),
                 F.col("u") == F.col("_n")).drop("_n")
        .join(deg.withColumnRenamed("u", "_n").withColumnRenamed("deg", "deg_v"),
              F.col("v") == F.col("_n")).drop("_n")
    ).localCheckpoint(eager=True)
    # center test: no neighbor strictly beats u on (deg, smaller-id)
    beats = (F.col("deg_v") > F.col("deg_u")) | (
        (F.col("deg_v") == F.col("deg_u")) & (F.col("v") < F.col("u"))
    )
    centers = (
        e.groupBy("u")
        .agg(F.max(beats.cast("int")).alias("_beaten"))
        .where(F.col("_beaten") == 0)
        .select(F.col("u").alias("center"))
    )
    # satellites: best ADJACENT center by (deg desc, id asc)
    adj_c = e.join(
        centers, e["v"] == centers["center"], "left_semi"
    )
    # min_by over (-deg, id) = highest-degree center, then smallest id
    best = adj_c.groupBy("u").agg(
        F.min_by(
            F.col("v"),
            F.struct((-F.col("deg_v")).alias("nd"), F.col("v").alias("i")),
        ).alias("cluster"),
    ).select("u", "cluster")
    sat = best.join(centers, best["u"] == centers["center"], "left_anti")
    own = centers.select(
        F.col("center").alias("u"), F.col("center").alias("cluster")
    )
    # nodes with no adjacent center and not centers themselves:
    # singletons (left_anti against both assignments)
    nodes = sym.select("u").distinct()
    assigned = own.unionAll(sat.select("u", "cluster"))
    lonely = nodes.join(assigned, "u", "left_anti").select(
        "u", F.col("u").alias("cluster")
    )
    return assigned.unionAll(lonely).withColumnRenamed("u", "node")
