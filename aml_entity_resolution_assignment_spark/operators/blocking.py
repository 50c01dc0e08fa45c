"""Blocking-key derivation over the pages table.

Analog of create_blocking_keys (/root/reference/src/preprocessing.py:
166-230) transposed to the graft domain (north_star): deterministic
blocking on normalized-hostname plus minhash/simhash-of-extracted-text
keys. All keys are plain columns — the reference's pickled LSH index
(preprocessing.py:269-291) becomes the exploded band table at join time
(operators/candidates.py), so "rebuilding the index" is just re-reading
the keyed table (north_rule resumability).

Key inventory (reference mapping):
  bk_host   — normalized hostname        (role of bk_nid/bk_email: strong exact key)
  bk_title  — normalized title, len > 4  (role of bk_initial_dob: loose exact key)
  bk_path   — last url path segment      (role of bk_phone: partial exact key)
  bk_minhash_bands — 16 LSH bands over 128-perm MinHash of body text (bk_minhash, J1)
  bk_simhash_bands — 4x16-bit SimHash bands of body text (north_star addition)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import minhash as mh
from ..functions import normalize as N

MIN_TITLE_KEY_LEN = 5  # analog of len>4 nid guard, preprocessing.py:201
MIN_PATH_KEY_LEN = 5

BLOCKING_KEYS = ["bk_host", "bk_title", "bk_path"]
BAND_KEYS = ["bk_minhash_bands", "bk_simhash_bands"]
# optional phonetic key (off by default, mirroring the reference's
# soundex that exists but isn't wired into its key set —
# preprocessing.py:192-193): soundex of the title's first two tokens,
# recovering typo'd titles the exact bk_title misses. Enabled via
# PipelineConfig.soundex_title_key; coarse blocks it creates are
# handled by the same salt/drop-cap machinery as every other key.
SOUNDEX_KEY = "bk_title_soundex"


def add_blocking_keys(
    pages: DataFrame, soundex_title_key: bool = False
) -> DataFrame:
    """pages -> pages_keyed: normalized columns + blocking keys.

    One narrow projection (no shuffle); the pandas UDFs run over the
    same Arrow batch scan, and each text kernel (MinHash, SimHash,
    token hash set) runs once per page. With `soundex_title_key`, adds
    the optional phonetic SOUNDEX_KEY column.
    """
    host = N.norm_hostname(N.url_host(F.col("url")))
    norm_url = N.norm_url_for_match(F.col("url"))
    norm_title = N.norm_title(N.extract_title_udf()(F.col("html")))
    norm_text = N.norm_body_text(F.col("text"))
    # FULL path, not the last segment: a single segment is a stop-word
    # key at web scale (quadratic blocks across unrelated hosts)
    path_full = F.regexp_extract(norm_url, r"^[^/]+/(.+?)/?$", 1)

    keyed = pages.select(
        "url",
        "warc_ts",
        "lang",
        host.alias("host"),
        norm_url.alias("norm_url"),
        norm_title.alias("norm_title"),
        norm_text.alias("norm_text"),
    )
    text = F.when(F.col("norm_text") != "", F.col("norm_text"))
    keyed = keyed.select(
        "*",
        F.when(F.col("host") != "", F.col("host")).alias("bk_host"),
        F.when(
            F.length("norm_title") >= MIN_TITLE_KEY_LEN, F.col("norm_title")
        ).alias("bk_title"),
        F.when(F.length(path_full) >= MIN_PATH_KEY_LEN, path_full).alias("bk_path"),
        *(
            [_title_soundex_key(F.col("norm_title")).alias(SOUNDEX_KEY)]
            if soundex_title_key
            else []
        ),
        # one UDF per kernel, each returning every column derived from
        # its signature: the kernel runs once per page
        mh.minhash_keys_udf()(text).alias("_mh"),
        mh.simhash_keys_udf()(text).alias("_sh"),
        # compact scoring payload, shipped by the hydration joins
        # instead of raw text
        mh.token_hashset_udf()(F.col("norm_text")).alias("tokens_bin"),
    )
    # norm_text (~text-sized) is a DERIVATION intermediate: every
    # downstream consumer uses the packed forms (tokens_bin / sig_bin /
    # band columns). Dropping it halves the persisted/checkpointed
    # keyed table — at 10^12 docs that is the difference between a 1x
    # and 2-3x stage-table footprint
    return keyed.select(
        *(c for c in keyed.columns if c not in ("norm_text", "_mh", "_sh", "tokens_bin")),
        "_sh.simhash",
        "_mh.bk_minhash_bands",
        "_sh.bk_simhash_bands",
        "_mh.sig_bin",
        "tokens_bin",
    )


def _title_soundex_key(norm_title):
    """Phonetic key: soundex of the first two title tokens joined with
    '|'. ONE token's soundex is a stop-word key at web scale (< 26*7^3
    distinct codes -> quadratic blocks); two tokens square the keyspace
    while still recovering single-typo titles. Null when the title is
    short or either code is the '0000' empty sentinel."""
    toks = F.split(norm_title, r"\s+")
    s1 = N.get_soundex(F.element_at(toks, 1))
    s2 = N.get_soundex(F.element_at(toks, 2))
    return F.when(
        (F.length(norm_title) >= MIN_TITLE_KEY_LEN)
        & (F.size(toks) >= 2)
        & (s1 != "0000")
        & (s2 != "0000"),
        F.concat_ws("|", s1, s2),
    )


def key_coverage(keyed: DataFrame) -> DataFrame:
    """B6 (preprocessing.py:250-253): how many blocking keys each record
    carries; returns (key_count, n_records) rows. Counts whichever of
    the known keys (incl. the optional soundex key) the table carries."""
    keys = [
        k for k in BLOCKING_KEYS + [SOUNDEX_KEY] + BAND_KEYS
        if k in keyed.columns
    ]
    count_expr = sum(F.col(k).isNotNull().cast("int") for k in keys)
    return (
        keyed.select(count_expr.alias("key_count"))
        .groupBy("key_count")
        .agg(F.count("*").alias("n_records"))
        .orderBy("key_count")
    )


def blocking_health(n_records: int, n_pairs: int) -> dict[str, float]:
    """Reduction ratio + pairs-per-record (matching.py:39-48) from the
    keyed record count and the candidate pair count."""
    total_possible = n_records * (n_records - 1) / 2
    return {
        "total_records": float(n_records),
        "candidate_pairs": float(n_pairs),
        "reduction_ratio": 1.0 - (n_pairs / total_possible) if total_possible else 0.0,
        "pairs_per_record": (n_pairs / n_records) if n_records else 0.0,
    }


def _global_rank(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Dense global row rank (1-based) in `order_cols` order WITHOUT a
    single-reducer global window.

    Two-phase, same shape as packing._with_global_offsets: range
    repartition on the order columns (ascending partition ids preserve
    global order across partitions), per-partition row_number, then one
    #partitions-row collect for the cumulative bases. Partitioning-
    invariant as long as `order_cols` is a total order (callers include
    a unique id as the final column)."""
    from pyspark.sql.window import Window

    cols = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(*cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # pin partition assignment between the two reads
    d = d.localCheckpoint(eager=False)
    w = Window.partitionBy("_pid").orderBy(*cols)
    totals = sorted(
        d.groupBy("_pid").count().collect(), key=lambda r: r["_pid"]
    )
    bases, acc = [], 0
    for r in totals:
        bases.append((r["_pid"], acc))
        acc += r["count"]
    base_df = df.sparkSession.createDataFrame(bases, "_pid int, _base long")
    return (
        d.withColumn("_local", F.row_number().over(w))
        .join(F.broadcast(base_df), "_pid")
        .withColumn("rank", (F.col("_base") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_base")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): sort all
    records by `key_col` and emit every pair whose positions are within
    a sliding window of `window` records.

    The classic complement to exact-key blocking (SURVEY §2.3 B1-B5):
    typo'd keys that land in DIFFERENT exact blocks still sort near
    each other, so SNM recovers them at O(N*w) pairs with no quadratic
    block risk — there are exactly (N - w/2)*(w-1) candidate pairs
    regardless of key skew, which is the property that makes it safe at
    10^12 records where a hot exact key needs salt/drop caps.

    Plan: distributed global rank (two-phase, no single-reducer
    window), then offsets d in 1..window-1 explode (factor w-1) and ONE
    equi-join on rank+d — rank keys are unique so the join is perfectly
    balanced. Output: (id_a, id_b, gap) with id_a < id_b, gap = rank
    distance. Multi-pass SNM = union over calls with different keys
    (compose with candidates-style union-dedup).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    base = df.select(
        F.col(key_col).alias("_snk"), F.col(id_col).alias("_sni")
    ).where(F.col("_snk").isNotNull())
    ranked = _global_rank(base, ["_snk", "_sni"])
    offsets = F.array(*[F.lit(d) for d in range(1, window)])
    left = ranked.select(
        F.col("_sni").alias("_ida"),
        F.explode(offsets).alias("gap"),
        F.col("rank"),
    ).withColumn("_rb", F.col("rank") + F.col("gap")).drop("rank")
    right = ranked.select(
        F.col("_sni").alias("_idb"), F.col("rank").alias("_rb")
    )
    return (
        left.join(right, "_rb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.col("gap").cast("int").alias("gap"),
        )
    )


# ---------------------------------------------------------------------------
# Blocking-key selection (greedy set cover over the coverage bitmask)
# ---------------------------------------------------------------------------


def key_coverage_masks(
    true_pairs: DataFrame,
    keyed: DataFrame,
    keys: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """For each labeled true pair, which candidate blocking keys would
    have caught it — reduced to the per-BITMASK pair counts.

    A pair is covered by key j iff both records carry a non-null equal
    value for it. The mask (bit j set = covered by key j) collapses
    the true-pair table to at most 2^len(keys) rows — the same
    aggregate-sized-reduction trick as the F-S pattern table, and what
    makes the downstream greedy selection a driver-side scalar loop
    instead of len(keys) cluster passes. Two hydration joins + one
    groupBy; shuffles are pair-table-sized once, mask-sized after."""
    a = keyed.select(
        F.col(id_col).alias("id_a"),
        *[F.col(k).alias(f"_a_{k}") for k in keys],
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"),
        *[F.col(k).alias(f"_b_{k}") for k in keys],
    )
    mask = None
    for j, k in enumerate(keys):
        # when() (not a bare cast) so a NULL on either side reads as
        # not-covered instead of nulling the whole mask sum
        cond = F.col(f"_a_{k}").isNotNull() & (
            F.col(f"_a_{k}") == F.col(f"_b_{k}")
        )
        bit = F.when(cond, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        mask = bit if mask is None else mask + bit
    return (
        true_pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(mask.alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").alias("n"))
    )


def greedy_key_selection(
    mask_counts: list[tuple[int, int]], n_keys: int
) -> list[tuple[int, int, int, int]]:
    """Greedy max-marginal-recall ordering of candidate blocking keys
    over the bitmask counts (driver-side, <= 2^n_keys rows — the
    aggregate-sized-collect policy). Classic greedy set cover: each
    step picks the key covering the most NOT-yet-covered true pairs
    (ties on the smaller key index), the standard (1 - 1/e)
    approximation to the NP-hard optimal key set. Returns
    [(step, key_idx, gain, cum_covered), ...] for ALL keys, including
    zero-gain tail picks (the 'this key buys nothing' signal)."""
    picked_bits = 0
    out = []
    cum = 0
    remaining = list(range(n_keys))
    for step in range(1, n_keys + 1):
        best_j, best_gain = None, -1
        for j in remaining:
            gain = sum(
                n
                for mask, n in mask_counts
                if (mask >> j) & 1 and (mask & picked_bits) == 0
            )
            if gain > best_gain:
                best_j, best_gain = j, gain
        picked_bits |= 1 << best_j
        cum += best_gain
        remaining.remove(best_j)
        out.append((step, best_j, best_gain, cum))
    return out


def select_blocking_keys(
    true_pairs: DataFrame,
    keyed: DataFrame,
    keys: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """The blocking-design report: greedy key ordering with marginal
    and cumulative recall against labeled true pairs — which keys to
    keep, in which order, and where coverage saturates. One
    distributed mask pass (key_coverage_masks), then the greedy loop
    on the collected aggregate; recall denominators count every true
    pair (mask 0 rows included)."""
    rows = key_coverage_masks(true_pairs, keyed, keys, id_col).collect()
    counts = [(int(r["mask"]), int(r["n"])) for r in rows]
    total = sum(n for _, n in counts)
    sel = greedy_key_selection(counts, len(keys))
    spark = true_pairs.sparkSession
    out = [
        (
            step,
            keys[j],
            gain,
            cum,
            round(cum / total, 6) if total else 0.0,
        )
        for step, j, gain, cum in sel
    ]
    return spark.createDataFrame(
        out,
        "step int, key string, gain long, cum_covered long, "
        "cum_recall double",
    )
