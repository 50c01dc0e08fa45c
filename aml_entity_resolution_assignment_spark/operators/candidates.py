"""Candidate-pair generation: grouped block emission + LSH band joins.

Reference semantics (/root/reference/src/matching.py:78-184):
  * per-key exact self-join with id_a < id_b (matching.py:141-167)
  * UNION-dedup across keys (matching.py:147-175) — kept as N per-key
    joins unioned, NOT one OR-join (an OR equi-condition would force
    Catalyst into BroadcastNestedLoopJoin; see matching.py:136-139 for
    the reference's identical reasoning against OR)
  * LSH approximate self-join (matching.py:88-133) — here the pickled
    datasketch index becomes explode(bands) + block emission per
    band hash; identical candidate semantics (b=16, r=8 ≈ threshold
    0.7), fully distributed

Grouped block emission (SparkER's block index, block -> member list):
the records are never self-joined. One aggregate groups the (key, id)
table by key into blocks (count, sorted id list), and pairs are
generated from each block's list:
  * block-size capping — blocks larger than `drop_cap` are dropped
    (the reference only WARNS at >50, matching.py:71-74; at 10^12 docs
    a stop-word block would be quadratic death)
  * blocks of at most `salt_cap` records emit their pairs where the
    grouping left them: posexplode over the sorted ids, then explode
    of the ids after each position (codegen'd generators)
  * larger blocks are split into a triangular (i <= j) grid of salt
    chunks, so one hot key becomes S*(S+1)/2 units (bk, i, j); only
    these units are repartitioned, so a hot key spreads over many
    tasks instead of one straggler
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_CAP = 2000  # block size above which the block is salted
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


def _emit(units: DataFrame) -> DataFrame:
    """Pairs of each unit row (l, r, i, j). A diagonal unit (i == j) has
    r == l, sorted: each id pairs with the ids after it. An off-diagonal
    unit pairs every id of l with every id of r. Two generators
    (posexplode, then explode of a slice), no join and no lambda per
    pair; equal ids (duplicate rows) never pair."""
    start = F.when(F.col("i") == F.col("j"), F.col("p") + 2).otherwise(1)
    return (
        units.select("r", "i", "j", F.posexplode("l").alias("p", "a"))
        .select("a", F.explode(F.slice("r", start, F.size("r"))).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(*_pair_cols("a", "b"))
    )


def self_join_pairs(
    df: DataFrame,
    key: str,
    id_col: str = "url",
    salt_cap: int = DEFAULT_SALT_CAP,
    drop_cap: int = DEFAULT_DROP_CAP,
) -> DataFrame:
    """Unordered pairs (id_a < id_b) of records sharing `key`, one row
    per pair of rows: duplicate (key, id) rows repeat their pairs, null
    keys and null ids never pair.

    Grouped block emission: ONE aggregate groups the (key, id) table by
    key into blocks (count, sorted id list); the records are never
    self-joined. Blocks over `drop_cap` records are dropped (stop-word
    keys). Blocks of at most `salt_cap` records emit their pairs where
    the grouping left them. A larger block splits into
    s = ceil(cnt / salt_cap) chunks by pmod(xxhash64(id), s); its
    triangular (i <= j) grid of chunk pairs becomes s*(s+1)/2 units
    (key, i, j), and only these units are repartitioned, so one hot key
    spreads over many tasks instead of one quadratic straggler. Both
    branches read the one grouping exchange only when `df` is
    file-backed (or recomputed from its source): AQE then reuses the
    exchange. Over a `.cache()`d input (one TableCacheQueryStage per
    branch) or a `localCheckpoint()`, eager or lazy, the key table is
    shuffled twice: 5 jobs instead of 4 for a `count()` of 400 rows at
    local[2]. The pipeline passes parquet reads.
    """
    blocks = (
        df.where(F.col(key).isNotNull())
        .groupBy(F.col(key).alias("bk"))
        .agg(
            F.count("*").alias("cnt"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("ids"),
        )
        .where((F.col("cnt") <= drop_cap) & (F.size("ids") > 1))
    )
    cold = blocks.where(F.col("cnt") <= salt_cap).select(
        F.col("ids").alias("l"),
        F.col("ids").alias("r"),
        F.lit(0).alias("i"),
        F.lit(0).alias("j"),
    )

    # hot blocks: chunk c holds the ids with pmod(xxhash64(id), s) == c,
    # built once per block; one unit per (i <= j) cell of the chunk grid
    s = F.col("s")
    hot = (
        blocks.where(F.col("cnt") > salt_cap)
        .select("bk", "ids", F.ceil(F.col("cnt") / salt_cap).cast("int").alias("s"))
        .select(
            "bk",
            "s",
            F.transform(
                F.sequence(F.lit(0), s - 1),
                lambda c: F.filter("ids", lambda x: F.pmod(F.xxhash64(x), s) == c),
            ).alias("chunks"),
        )
        .select(
            "bk",
            "chunks",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, s - 1), "
                    "i -> transform(sequence(i, s - 1), j -> struct(i, j))))"
                )
            ).alias("u"),
        )
        .select(
            "bk",
            F.element_at("chunks", F.col("u.i") + 1).alias("l"),
            F.element_at("chunks", F.col("u.j") + 1).alias("r"),
            "u.i",
            "u.j",
        )
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "bk", "i", "j"
        )
    )
    return _emit(cold).unionByName(_emit(hot.drop("bk")))


def band_join_pairs(
    df: DataFrame,
    band_col: str,
    id_col: str = "url",
    salt_cap: int = DEFAULT_SALT_CAP,
    drop_cap: int = DEFAULT_DROP_CAP,
) -> DataFrame:
    """LSH approximate self-join (J1): explode the band-hash array and
    pair the records of each (band_idx, band_hash) bucket. Band index is
    baked into the hash (functions/minhash.py), so one explode + the
    generic block emission covers it. Pairs sharing multiple bands are deduped."""
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
    followed by ONE grouped block emission and ONE global dedup: the
    grouping shuffle, the hot-unit repartition and the dedup shuffle,
    regardless of how many blocking keys exist. A hash collision
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
    all_keys = keyed.select(
        F.col(id_col).alias("rid"), F.explode(keys).alias("bk")
    )
    pairs = self_join_pairs(
        all_keys, "bk", id_col="rid", salt_cap=salt_cap, drop_cap=drop_cap
    )
    return pairs.dropDuplicates(["id_a", "id_b"])
