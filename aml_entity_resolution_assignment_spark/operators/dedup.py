"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's ER scope: a 100 TB web-text corpus needs
document-level dedup as a first-class operation. The strategies are
all DataFrame-native and share the blocking/banding machinery of the
ER engine (operators/candidates.py):

  minhash LSH  — shingle -> minhash -> band -> bucket self-join ->
                 verify exact Jaccard above threshold
  ngram        — token n-gram Jaccard via explode + count aggregation
                 (pure built-ins, SQL-expressible for oracle checks)
  embedding    — cosine near-dup over an embedding column (see ann.py)
  substring    — exact duplicated-substring spans + strip (Lee et al.
                 2021 ExactSubstr, hash-gram + window-island form)

Each `*_pairs` function returns (id_a, id_b [, score]); `dedup_keep_min`
turns any pair set into a keep/drop decision via connected components
(canonical representative = min id, same CC operator as the ER path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..functions import minhash as mh
from ..functions import similarity as sim
from .candidates import band_join_pairs
from .cluster import connected_components


_hashset_jacc_udf = F.pandas_udf(sim.batch_hashset_jaccard, DoubleType())


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    verify: bool = True,
    bands: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: signature -> banded ->
    banded self-join (salted, skew-capped) -> optional exact token-
    Jaccard verification at `threshold`. Candidates are O(true near-dups)
    by the LSH s-curve, so the verify join is cheap.

    Banding defaults to the threshold-matched s-curve midpoint
    (banding_for_threshold); pass explicit (bands, rows) to trade
    recall for candidate volume — e.g. (32, 4) puts the miss
    probability for a jaccard>=0.9 pair at (1-0.9^4)^32 ≈ 1.5e-15,
    making the verified output equal to exact all-pairs Jaccard>=t for
    any corpus far below 10^15 near-dup pairs (the recall-forced
    configuration the CORRECTNESS oracle uses).

    The verify join ships uint32-packed token hash sets (~4B/distinct
    token), never raw text — same shuffle-payload rule as the ER
    scoring path (functions/minhash.py:batch_token_hashset)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    if bands is None or rows is None:
        bands, rows = mh.banding_for_threshold(threshold)
    sigs = df.select(
        F.col(id_col).alias("_id"),
        mh.token_hashset_udf()(norm).alias("_tok"),
        mh.band_hashes_udf(bands, rows)(
            mh.minhash_udf(bands * rows)(norm)
        ).alias("_bands"),
    )
    # read by THREE join subtrees (banding + both verify hydration
    # sides): checkpointed so the Python-UDF signatures run once
    sigs = sigs.localCheckpoint(eager=False)
    pairs = band_join_pairs(sigs, "_bands", id_col="_id")
    if not verify:
        return pairs
    a = sigs.select(F.col("_id").alias("id_a"), F.col("_tok").alias("_ta"))
    b = sigs.select(F.col("_id").alias("id_b"), F.col("_tok").alias("_tb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", _hashset_jacc_udf("_ta", "_tb"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact token n-gram Jaccard for all pairs sharing >= 1 n-gram —
    pure built-ins (explode + groupBy counting), no UDF, fully
    SQL-expressible (DuckDB oracle twin in __spark_entry__):

      J(a,b) = |shared| / (|A| + |B| - |shared|)

    Shared-shingle counting joins only on exploded n-grams, so disjoint
    documents never meet (no cross join). For web-scale corpora feed
    this CANDIDATES, not the raw table — or set the frequency cap:
    n-grams appearing in more than `max_df` docs are dropped as
    stop-shingles BEFORE the gram self-join (one hot shingle like
    "click here to" in 10^6 docs is otherwise a 10^12-row join — the
    same bound drop_cap provides for blocking keys). Jaccard is then
    computed over each document's surviving (non-stop) gram set; the
    oracle twin applies the identical filter."""
    # tokenize in a CHILD projection: the per-position lambda below
    # must reference the array ATTRIBUTE — an inlined split subtree is
    # re-evaluated per gram position in interpreted HOF eval (O(T^2)
    # regex splits per doc; same fix as quality.ngrams_of_tokens)
    toks = F.col("_toks")
    grams = df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_toks"),
    ).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ).alias("gram"),
    ).distinct()
    if max_df is not None:
        keep = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("gram")
        )
        grams = grams.join(keep, "gram", "left_semi")
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))

    g_a = grams.select(F.col("id").alias("id_a"), "gram")
    g_b = grams.select(F.col("id").alias("id_b"), "gram")
    shared = (
        g_a.join(g_b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    s_a = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    s_b = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(s_a, "id_a")
        .join(s_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_keep_min(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Resolve near-dup pairs transitively (same CC operator as entity
    clustering) and keep the min-id representative of each group."""
    assign = connected_components(
        pairs.select("id_a", "id_b"), vertices=df, id_col=id_col
    )
    keep = assign.where(F.col(id_col) == F.col("predicted_entity_id")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware transitive dedup: resolve near-dup pairs into
    groups (same connected_components operator) and keep each group's
    HIGHEST-`score_col` member (min id breaks ties) instead of the
    arbitrary min-id representative — the form a training-data
    pipeline actually wants ("of these near-duplicate crawls, keep the
    highest-quality one"). One window over the group key after the CC
    join; singletons keep themselves."""
    from pyspark.sql import Window

    assign = connected_components(
        pairs.select("id_a", "id_b"), vertices=df, id_col=id_col
    )
    scored = df.join(assign, id_col)
    w = Window.partitionBy("predicted_entity_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", "predicted_entity_id")
    )


def duplicated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    use_hash: bool = True,
) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    maximal character range covered by some length-`min_len` substring
    that occurs at >= 2 positions corpus-wide. Returns
    (doc_id, span_start, span_end) with span_end exclusive, 0-based.

    Spark-first plan (the paper's suffix array is a single-machine
    structure; the distributed equivalent is gram hashing):
      1. explode window START POSITIONS (sequence + explode, fully
         codegen'd; the text column is never expanded into a
         materialized gram array — substring + xxhash64 run in the
         same pipelined stage, so only (doc_id, pos, hash64) rows
         ever hit a shuffle: ~24 B per corpus character),
      2. ONE groupBy on the 64-bit gram hash with map-side partial
         aggregation -> the duplicated-hash set (count >= 2),
      3. semi-join positions against that set (both sides already
         hash-partitioned on the key -> the exchange is reused; AQE
         skew-join splits pathological grams, e.g. boilerplate),
      4. per-doc island merge with window functions: a new island
         starts where pos exceeds the running max of prior pos +
         min_len (overlap OR adjacency merges), islands -> min/max
         aggregate. One further shuffle, keyed by doc.

    `use_hash=False` groups on the raw gram string instead (exact,
    collision-free; the DuckDB oracle's form). The default hashes:
    at 64 bits a false dup needs a corpus-scale birthday collision
    (~1e-10 at 10^9 grams) and a unit test pins both modes equal."""
    from pyspark.sql import Window

    L = int(min_len)
    n = F.length(F.col(text_col))
    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(
            F.when(n >= L, F.sequence(F.lit(0), n - L)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
    )
    gram = F.col("_t").substr(F.col("pos") + F.lit(1), F.lit(L))
    key = F.xxhash64(gram) if use_hash else gram
    keyed = pos.select("doc_id", "pos", key.alias("_k"))
    dup_keys = (
        keyed.groupBy("_k")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .select("_k")
    )
    dpos = keyed.join(dup_keys, "_k", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prior_end = F.max(F.col("pos") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islanded = dpos.withColumn(
        "_new",
        F.when(prior_end.isNull() | (F.col("pos") > prior_end), 1).otherwise(
            0
        ),
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islanded.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(L)).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def strip_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every duplicated span from the text (the paper's
    ExactSubstr cut, applied to ALL occurrences — deterministic and
    order-free, where keep-first would depend on a global occurrence
    order). Adds `clean_text`, `dup_chars`, `n_dup_spans`; docs
    without spans pass through intact.

    Pure built-ins: spans collect per doc (bounded: spans are maximal
    and disjoint, <= len/min_len of them), then ONE F.aggregate fold
    walks them in order concatenating the gaps — no Python UDF, one
    left join + one groupBy."""
    per_doc = spans.groupBy(F.col(id_col).alias("_sid")).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    joined = df.join(
        per_doc, df[id_col] == F.col("_sid"), "left"
    ).drop("_sid")
    txt = F.col(text_col)
    fold = F.aggregate(
        F.col("_spans"),
        F.struct(
            F.lit("").alias("out"), F.lit(0).cast("long").alias("cur")
        ),
        lambda acc, s: F.struct(
            F.concat(
                acc["out"],
                txt.substr(
                    (acc["cur"] + 1).cast("int"),
                    (s["span_start"] - acc["cur"]).cast("int"),
                ),
            ).alias("out"),
            s["span_end"].alias("cur"),
        ),
        lambda acc: F.concat(
            acc["out"],
            txt.substr(
                (acc["cur"] + 1).cast("int"),
                (F.length(txt) - acc["cur"]).cast("int"),
            ),
        ),
    )
    has = F.col("_spans").isNotNull()
    return (
        joined.withColumn("clean_text", F.when(has, fold).otherwise(txt))
        .withColumn(
            "dup_chars",
            F.when(
                has,
                F.aggregate(
                    F.col("_spans"),
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + (s["span_end"] - s["span_start"]),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "n_dup_spans",
            F.when(has, F.size("_spans")).otherwise(F.lit(0)).cast("long"),
        )
        .drop("_spans")
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_len: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Line-level dedup (the CCNet / RefinedWeb pass: Wenzek et al.
    2019 §3.1, Penedo et al. 2023 §4): drop every line whose trimmed
    form appears in >= `min_docs` DISTINCT documents — boilerplate
    (navigation bars, cookie banners, footers) repeats across pages
    verbatim while real prose does not. Lines shorter than `min_len`
    after trimming never count as boilerplate (blank separators stay).

    Returns one row per input doc: `clean_text` (surviving lines
    joined by `sep`, original order), `n_lines`, `n_removed`.

    Spark-first plan, 100 TB shape: posexplode lines; aggregate the
    DISTINCT (line-md5, doc) pairs down to the duplicated-key set
    (partial aggregation does the heavy lifting map-side — the
    repeated boilerplate lines are exactly the ones that collapse);
    ONE equi-join of lines against that aggregated key set (no skew:
    the right side holds distinct keys only, and AQE broadcasts it
    when small); reassemble with array_sort(collect_list(struct)) —
    per-doc line counts are bounded, so the collect_list is safe.
    Everything is built-ins; the md5 join key keeps shuffle width
    fixed regardless of line length and is SQL-reproducible for the
    oracle harness."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_line"),
    ).withColumn("_norm", F.trim("_line"))
    eligible = F.length("_norm") >= int(min_len)
    dup_keys = (
        lines.where(eligible)
        .select(F.md5("_norm").alias("_k"), "_id")
        .distinct()
        .groupBy("_k")
        .agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") >= int(min_docs))
        .select("_k")
    )
    flagged = lines.join(
        dup_keys.withColumn("_dup", F.lit(True)),
        F.md5(F.col("_norm")) == F.col("_k"),
        "left",
    ).withColumn("_drop", eligible & F.coalesce("_dup", F.lit(False)))
    return (
        flagged.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"),
                                F.struct("_pos", "_line"),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("clean_text"),
            F.count("*").alias("n_lines"),
            F.sum(F.col("_drop").cast("long")).alias("n_removed"),
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT word-set Jaccard self-join via prefix filtering (the
    AllPairs family — Bayardo et al. WWW'07 / PPJoin, Xiao et al.
    WWW'08): unlike minhash/simhash this misses NOTHING, and unlike
    the all-shared-token gram join it never joins on hot tokens —
    if J(x, y) >= t, the first  |x| - ceil(t*|x|) + 1  tokens of x
    under a GLOBAL rarest-first order and the same-length prefix of y
    must intersect, so only those short prefixes are indexed and
    self-joined. Rare tokens lead the order, so prefix join keys are
    the LOW-frequency ones: the hot-key blowup the gram join must cap
    away (max_df) never forms, at zero recall cost.

    Pipeline: distinct (id, token) -> document frequencies -> per-doc
    token array sorted by (df, token) -> prefix explode -> prefix
    self-join (id_a < id_b, with the length filter t*max(|x|,|y|) <=
    min(|x|,|y|)) -> exact verify with array_intersect over the full
    sorted arrays. Every join is an equi-join on a token or id; the
    per-doc arrays are doc-sized; no UDF anywhere.

    Returns (id_a, id_b, jaccard) for all pairs with J >= threshold,
    jaccard unrounded."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("need 0 < threshold <= 1")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
        .where(F.col("t") != "")
        .distinct()
    )
    dfreq = tok.groupBy("t").agg(F.count("*").alias("_df"))
    ranked = (
        tok.join(dfreq, "t")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("t")))
            ).alias("_arr")
        )
        .select(
            "id",
            F.transform("_arr", lambda s: s["t"]).alias("toks"),
            F.size("_arr").alias("m"),
        )
    )
    # (a localCheckpoint of `ranked` — reused by the prefix explode and
    # both verify sides — was measured SLOWER (2.94 -> 3.44s at sf0.1):
    # materializing the full token arrays costs more than the pruned,
    # pipelined recompute of each branch)
    plen = F.col("m") - F.ceil(F.lit(threshold) * F.col("m")) + 1
    prefix = ranked.select(
        "id", "m", F.explode(F.slice("toks", 1, plen)).alias("t")
    )
    a = prefix.select(
        F.col("id").alias("id_a"), F.col("m").alias("_ma"), "t"
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("m").alias("_mb"), "t"
    )
    cand = (
        a.join(b, "t")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.lit(threshold) * F.greatest("_ma", "_mb")
            <= F.least("_ma", "_mb")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ra = ranked.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("_ta"),
        F.col("m").alias("_ma"),
    )
    rb = ranked.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("_tb"),
        F.col("m").alias("_mb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    jacc = inter / (F.col("_ma") + F.col("_mb") - inter)
    return (
        cand.join(ra, "id_a")
        .join(rb, "id_b")
        .select("id_a", "id_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): canonicalize text (lowercase, strip
    non-alphanumerics), hash every character ``k``-gram, slide a
    ``window`` over the hash sequence and select each window's
    RIGHTMOST minimal hash.  The selected (position, hash) set is a
    position-aware local fingerprint with the winnowing guarantee
    (any match of length >= window + k - 1 shares a fingerprint) —
    the copy/plagiarism-detection primitive that simhash/minhash
    (global, position-blind) cannot provide.  Shared fingerprints
    between docs = equi-join on the hash column.

    Hashes are md5 hex strings: deterministic, engine-portable, and
    their lexicographic order IS the min-selection order, so the
    DuckDB twin replays selection exactly.

    Output: (id, pos, fp) — one row per distinct selected
    fingerprint; docs shorter than ``k`` canonical chars emit
    nothing; docs with fewer than ``window`` grams emit the min of
    what they have (the standard short-doc degenerate case).

    Scale shape: everything happens inside array higher-order
    functions in ONE codegen'd projection per doc, fanned out by a
    single explode — no shuffle, no UDF; cost is O(n_grams x window)
    comparisons per doc, streamed through the scan stage.
    """
    if k < 1 or window < 1:
        raise ValueError(f"need k >= 1 and window >= 1, got {k}/{window}")
    c0 = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    # canonical string materialized as a column: the per-position md5
    # lambda must reference the ATTRIBUTE — an inlined regexp_replace
    # subtree is re-evaluated per gram position in interpreted HOF
    # eval (one full-document regex pass per char position)
    c = F.col("_c")
    n_g = F.length(c) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_g, F.lit(1))),
        lambda i: F.md5(F.substring(c, i, k)),
    )

    def _fp(h, j):
        sl = F.slice(h, j, window)
        m = F.array_min(sl)
        pos = j + F.size(sl) - F.array_position(F.reverse(sl), m)
        return F.struct(pos.cast("int").alias("pos"), m.alias("fp"))

    # materialize the gram-hash array in a CHILD projection: inlining
    # `grams` into every window lambda would re-hash the whole doc
    # once per window (O(n_grams^2) md5 calls — measured 100x slower)
    hashed = (
        df.select(F.col(id_col), c0.alias("_c"))
        .where(n_g >= 1)
        .select(F.col(id_col), grams.alias("_h"))
    )
    h = F.col("_h")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(h) - (window - 1), F.lit(1))
    )
    fps = F.array_distinct(F.transform(starts, lambda j: _fp(h, j)))
    return hashed.select(
        F.col(id_col), F.explode(fps).alias("_f")
    ).select(
        id_col,
        F.col("_f.pos").alias("pos"),
        F.col("_f.fp").alias("fp"),
    )


def winnow_matches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """MOSS-style copy-detection report on top of
    ``winnow_fingerprints``: doc pairs ranked by the number of DISTINCT
    winnowing fingerprints they share.  Position-aware local evidence —
    two docs sharing ``n_shared`` fingerprints share at least that many
    distinct substrings of length >= k (any match of length >=
    window + k - 1 is guaranteed to surface).

    ``max_df`` drops fingerprints present in more than that many
    documents before the join — boilerplate phrases shared by half the
    corpus carry no copy signal and would otherwise create a hot join
    key (the same stop-pattern rule MOSS applies); at 10^12 docs this
    bound is what keeps the self-join linear in the match count.

    Plan: fingerprint projection (map-only) -> per-doc distinct ->
    document-frequency filter (one count aggregate, broadcast-free
    semi-join shape) -> equi-join on the fingerprint hash with
    id_a < id_b -> pair count.  All shuffles key on the fingerprint
    hash or the pair — no all-pairs comparison anywhere.
    """
    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, window=window)
        .select(F.col(id_col).alias("_id"), "fp")
        .distinct()
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") <= max_df) & (F.col("_df") >= 2))
        .select("fp")
    )
    f = fps.join(rare, "fp")
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
