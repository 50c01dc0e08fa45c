"""Candidate-pair generation: salted blocked self-joins + LSH band joins.

Reference semantics (/root/reference/src/matching.py:78-184):
  * per-key exact self-join with id_a < id_b (matching.py:141-167)
  * UNION-dedup across keys (matching.py:147-175) — kept as N per-key
    joins unioned, NOT one OR-join (an OR equi-condition would force
    Catalyst into BroadcastNestedLoopJoin; see matching.py:136-139 for
    the reference's identical reasoning against OR)
  * LSH approximate self-join (matching.py:88-133) — here the pickled
    datasketch index becomes explode(bands) + equi-self-join on the
    band hash; identical candidate semantics (b=16, r=8 ≈ threshold
    0.7), fully distributed

Scale machinery (north_rule: explicit skew handling):
  * block-size capping — blocks larger than `drop_cap` are dropped with
    a counter (the reference only WARNS at >50, matching.py:71-74; at
    10^12 docs a stop-word block would be quadratic death)
  * salted self-join — blocks above `salt_cap` are split into a
    triangular (i <= j) salt grid so one hot key becomes S sub-join
    tasks on composite keys (bk, i, j) instead of one straggler
  * per-key repartition on the blocking key before the join
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALT_CAP = 2000  # block size above which the self-join is salted
DEFAULT_DROP_CAP = 200_000  # block size above which the block is dropped


def release_persisted() -> None:
    """No-op, kept for callers of the former cache registry.

    Intermediates read more than once are lazy local checkpoints
    (`localCheckpoint(eager=False)`): the first action that reads one
    materializes it (under AQE the shuffle map stages below it run when
    it is built), and Spark's ContextCleaner frees its blocks once the
    DataFrame holding it is garbage-collected. Nothing is left in
    the session's CacheManager to release."""


def _pair_cols(l_id: str = "l_id", r_id: str = "r_id"):
    return [
        F.least(F.col(l_id), F.col(r_id)).alias("id_a"),
        F.greatest(F.col(l_id), F.col(r_id)).alias("id_b"),
    ]


def self_join_pairs(
    df: DataFrame,
    key: str,
    id_col: str = "url",
    salt_cap: int = DEFAULT_SALT_CAP,
    drop_cap: int = DEFAULT_DROP_CAP,
) -> DataFrame:
    """Unordered unique pairs (id_a < id_b) of records sharing `key`.

    Small blocks take the plain equi-self-join (Catalyst shuffle/
    sort-merge on the key, AQE skew split on top). Blocks larger than
    `salt_cap` are exploded over a triangular salt grid so the shuffle
    key becomes (key, i, j) — S*(S+1)/2 balanced tasks per hot block
    instead of one quadratic straggler. Blocks over `drop_cap` are
    excluded entirely (stop-word keys).
    """
    recs = df.where(F.col(key).isNotNull()).select(
        F.col(key).alias("bk"), F.col(id_col).alias("rid")
    )

    # The hot/cold split never branches on data — no pre-job to test
    # for hot keys (at 10^12 rows that test is a full extra pass). The
    # oversized-key table is tiny by construction (every row represents
    # > salt_cap records), so it broadcasts; when no key is hot, the
    # anti-join is against an empty broadcast (near-free) and AQE
    # collapses the empty hot-pair branch at runtime. `oversized` is a
    # lazy local checkpoint so the key-size aggregation shuffles ONCE
    # and its tiny result feeds all three broadcast builds (Catalyst
    # does not reuse an exchange nested under distinct broadcast
    # stages); its blocks die with the plans that hold it. Under AQE
    # building the checkpoint already runs that shuffle's map stage;
    # the action reuses its output, so it is not an extra pass.
    sizes = recs.groupBy("bk").agg(F.count("*").alias("cnt"))
    oversized = sizes.where(F.col("cnt") > salt_cap).localCheckpoint(
        eager=False
    )

    hot_keys = oversized.where(F.col("cnt") <= drop_cap).select(
        "bk", F.ceil(F.col("cnt") / salt_cap).cast("int").alias("n_salt")
    )
    cold = recs.join(F.broadcast(oversized.select("bk")), "bk", "left_anti")

    cold_pairs = (
        cold.alias("l")
        .join(
            cold.alias("r"),
            F.col("l.bk") == F.col("r.bk"),
        )
        .where(F.col("l.rid") < F.col("r.rid"))
        .select(F.col("l.rid").alias("id_a"), F.col("r.rid").alias("id_b"))
    )

    hot = recs.join(F.broadcast(hot_keys), "bk").select(
        "bk",
        "rid",
        F.pmod(F.xxhash64("rid"), F.col("n_salt")).cast("int").alias("salt"),
        "n_salt",
    )
    # triangular grid (i <= j) per hot key
    grid = hot_keys.select(
        "bk",
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, n_salt - 1), "
                "i -> transform(sequence(i, n_salt - 1), j -> struct(i, j))))"
            )
        ).alias("ij"),
    ).select("bk", F.col("ij.i").alias("i"), F.col("ij.j").alias("j"))

    left = hot.join(F.broadcast(grid), ["bk"]).where(F.col("salt") == F.col("i"))
    right = hot.select(
        F.col("bk").alias("bk_r"), F.col("rid").alias("rid_r"), F.col("salt").alias("salt_r")
    )
    hot_pairs = (
        left.join(
            right,
            (F.col("bk") == F.col("bk_r")) & (F.col("j") == F.col("salt_r")),
        )
        .where(
            (F.col("i") < F.col("j"))
            | ((F.col("i") == F.col("j")) & (F.col("rid") < F.col("rid_r")))
        )
        .select(
            F.least("rid", "rid_r").alias("id_a"),
            F.greatest("rid", "rid_r").alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )
    return cold_pairs.unionByName(hot_pairs)


def band_join_pairs(
    df: DataFrame,
    band_col: str,
    id_col: str = "url",
    salt_cap: int = DEFAULT_SALT_CAP,
    drop_cap: int = DEFAULT_DROP_CAP,
) -> DataFrame:
    """LSH approximate self-join (J1): explode the band-hash array and
    self-join per (band_idx, band_hash) bucket. Band index is baked into
    the hash (functions/minhash.py), so one explode + the generic salted
    self-join covers it. Pairs sharing multiple bands are deduped."""
    exploded = df.where(F.col(band_col).isNotNull()).select(
        F.col(id_col), F.explode(F.col(band_col)).alias("band")
    )
    return self_join_pairs(
        exploded, "band", id_col=id_col, salt_cap=salt_cap, drop_cap=drop_cap
    ).dropDuplicates(["id_a", "id_b"])


def candidate_pairs(
    keyed: DataFrame,
    exact_keys: list[str] | None = None,
    band_keys: list[str] | None = None,
    id_col: str = "url",
    salt_cap: int = DEFAULT_SALT_CAP,
    drop_cap: int = DEFAULT_DROP_CAP,
) -> DataFrame:
    """J3: union-dedup across exact keys + LSH bands
    (matching.py:141-177).

    Physical strategy: instead of N independent self-join pipelines
    (the reference's UNION of per-index joins — necessary for SQLite's
    B-trees, wasteful for Spark: N shuffles + N size-scans), all keys
    collapse into ONE tall (rid, key_hash) table — key_hash = xxhash64
    of (key name, key value), so different key spaces cannot collide —
    followed by ONE salted self-join and ONE global dedup: 3 shuffles
    total regardless of how many blocking keys exist. A hash collision
    between key spaces could only create a spurious CANDIDATE, which
    the scorer then rejects — correctness is unaffected."""
    from .blocking import BAND_KEYS, BLOCKING_KEYS

    exact_keys = BLOCKING_KEYS if exact_keys is None else exact_keys
    band_keys = BAND_KEYS if band_keys is None else band_keys

    # ONE scan + ONE explode builds the tall table (the _melt_keys
    # shape resolve.py already uses): a per-key union was 2 x n_keys
    # extra AQE stages of trivial work — each branch re-scanned the
    # keyed table into its own exchange-feeding stage, and the l/r
    # sides of the self-join doubled that (guide §2.2: fewer, larger
    # map tasks; measured 1.35 -> 1.15s on q_candidate_pairs alone)
    exact = F.array(
        *[
            F.when(F.col(k).isNotNull(), F.xxhash64(F.lit(k), F.col(k)))
            for k in exact_keys
        ]
    ) if exact_keys else F.array().cast("array<bigint>")
    bands = [
        F.coalesce(
            F.transform(F.col(k), lambda b, _k=k: F.xxhash64(F.lit(_k), b)),
            F.array().cast("array<bigint>"),
        )
        for k in band_keys
    ]
    keys = F.filter(F.concat(exact, *bands), lambda x: x.isNotNull())
    # materialize the NARROW (rid, key-hash) table once: the salted
    # self-join scans it four ways (key-size aggregate, both cold
    # sides, hot side), each otherwise re-running the key computation
    # (and, when `keyed` is not already cached, the whole
    # normalization lineage). Two scalar columns — cheap blocks.
    all_keys = keyed.select(
        F.col(id_col).alias("rid"), F.explode(keys).alias("bk")
    ).localCheckpoint(eager=False)
    pairs = self_join_pairs(
        all_keys.select(F.col("bk"), F.col("rid")),
        "bk",
        id_col="rid",
        salt_cap=salt_cap,
        drop_cap=drop_cap,
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def limit_candidates_per_record(
    pairs: DataFrame, scores: str | None = None, limit: int = 50
) -> DataFrame:
    """A5-style per-record candidate cap (api.py:163: LIMIT 50): keep at
    most `limit` partners per id_a via a window — protects the scoring
    stage from pathological fan-out."""
    w = Window.partitionBy("id_a").orderBy(
        F.desc(scores) if scores else F.asc("id_b")
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= limit)
        .drop("_rn")
    )
