"""Deterministic sampling for training-data mixtures.

A 100 TB corpus is never trained on uniformly: each source/domain gets
a mixture weight (e.g. Wikipedia up-weighted, raw crawl down-weighted)
and the sampler must be DETERMINISTIC (same row set on every run,
every partitioning, every cluster size — re-runs of a failed stage
must not change the corpus) and CHEAP (a filter the parquet scan can
evaluate, no shuffle, no RNG state).

The standard construction: hash the row id to a uniform 64-bit value
and keep the row iff hash < rate * 2^64. We use the last-8-bytes-of-
MD5 little-endian hash (exactly DuckDB's `md5_number_lower`, the same
convention as functions/minhash._token_hash64) so every sampling
decision is reproducible in ANSI SQL for oracle checks — and, unlike
`DataFrame.sample`, is stable under partition reordering, speculative
retries, and cluster resizing, because it depends on row CONTENT
only.

Everything here is pure `pyspark.sql.functions` column algebra — one
whole-stage-codegen'd filter, pushable to the scan, zero UDFs."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_FULL = 1 << 64


def hash_u64(col: Column, seed: int | str = 17) -> Column:
    """Uniform u64 per row as decimal(20,0): md5(value||'|'||seed),
    last 8 digest bytes, little-endian — DuckDB:
    md5_number_lower(value || '|' || seed)::UBIGINT."""
    hx = F.md5(F.concat_ws("|", col.cast("string"), F.lit(str(seed))))
    # digest bytes 8..15 little-endian = hex char pairs (31,32),(29,30),
    # ...,(17,18) concatenated most-significant-first
    le = F.concat(
        *[F.substring(hx, 1 + 2 * i, 2) for i in range(15, 7, -1)]
    )
    return F.conv(le, 16, 10).cast("decimal(20,0)")


def threshold(rate: float) -> int:
    """The exact integer keep-threshold for a rate — public so oracle
    twins inline the SAME integer instead of re-deriving it from a
    float."""
    return int(round(float(rate) * _FULL))


def _keep(col: Column, rate: float, seed: int | str) -> Column:
    thr = threshold(rate)
    if thr <= 0:
        return F.lit(False)
    if thr >= _FULL:
        return F.lit(True)
    return hash_u64(col, seed) < F.lit(str(thr)).cast("decimal(20,0)")


def sample_fraction(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    seed: int | str = 17,
) -> DataFrame:
    """Keep a deterministic `rate` fraction of rows, by id hash."""
    return df.where(_keep(F.col(id_col), rate, seed))


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 17,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-source mixture sampling: keep a row iff its id hash clears
    its source's rate threshold. `rates` maps source value -> keep
    fraction in [0, 1]; unlisted sources get `default_rate`. Rates
    above 1.0 are clamped (up-sampling is repetition, not selection —
    use `mixture_repeat` for that).

    The rate table is a when()-chain (mixture configs are dozens of
    sources, not millions) — the whole predicate stays inside one
    codegen span and pushes to the scan."""
    keep = _keep(F.col(id_col), min(default_rate, 1.0), seed)
    for src, rate in sorted(rates.items()):
        keep = F.when(
            F.col(source_col) == F.lit(src),
            _keep(F.col(id_col), min(float(rate), 1.0), seed),
        ).otherwise(keep)
    return df.where(keep)


def mixture_repeat(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 17,
) -> DataFrame:
    """Mixture weights > 1: emit floor(rate) deterministic copies of
    every row plus one more iff the id hash clears the fractional
    part (so E[copies] = rate exactly, per-row deterministic). Adds
    `epoch` (0-based copy index) — downstream shuffles spread copies;
    identical text in distinct epochs is intentional repetition.
    Sources absent from `rates` default to 1.0 (keep once)."""
    epoch = F.lit(1)
    frac_keep = F.lit(False)
    for src, rate in sorted(rates.items()):
        r = float(rate)
        whole, frac = int(r), r - int(r)
        epoch = F.when(
            F.col(source_col) == F.lit(src), F.lit(whole)
        ).otherwise(epoch)
        frac_keep = F.when(
            F.col(source_col) == F.lit(src),
            _keep(F.col(id_col), frac, seed),
        ).otherwise(frac_keep)
    n_copies = epoch + frac_keep.cast("int")
    return (
        df.withColumn("_n", n_copies)
        .where(F.col("_n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int | str = 17,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (A-Res,
    Efraimidis & Spirakis 2006): every row draws key = ln(u) / w with
    u the row's content-hash uniform, and the n largest keys win —
    P(row in sample) is exactly the weighted without-replacement
    probability, yet re-runs/retries/cluster resizes reproduce the
    same sample because u is content-derived, not RNG state. The
    quality-weighted corpus-selection primitive (w = quality score,
    length, dedup-cluster size, ...).

    Plan shape: one codegen'd projection + TakeOrdered(n) — per-
    partition heads merged on the driver, no global sort, no shuffle
    of the corpus. Rows with NULL/non-positive weight never qualify.
    Appends `skey` (rounded, for audit) to the sampled rows."""
    u = (
        hash_u64(F.col(id_col), seed).cast("double") + F.lit(0.5)
    ) / F.lit(float(_FULL))
    skey = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("skey", skey)
        .orderBy(F.col("skey").desc(), F.col(id_col))
        .limit(n)
        .withColumn("skey", F.round("skey", 6))
    )


def dsir_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 8192,
    smoothing: float = 1.0,
    seed: int | str = 17,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed n-gram bag is under
    the TARGET distribution (e.g. Wikipedia) than under the RAW
    distribution (the crawl itself) —

        log w(x) = sum_{g in grams(x)} log p_target(b(g))
                                     - log p_raw(b(g))

    with word uni+bigrams hashed into `buckets` buckets via the same
    content-hash family as every sampler here (md5_number_lower, so
    the twin is exact ANSI SQL), and add-`smoothing` estimates
    p(b) = (c(b) + a) / (N + a*B). Downstream, resampling keeps docs
    proportional to w — the standard recipe for steering a 100 TB
    crawl toward a quality target without training a classifier.

    Distributed shape: the raw corpus explodes + content-hashes to
    grams ONCE (the md5 per gram is the hot cost) into a checkpointed
    (id, bucket) table that serves BOTH the raw count distribution and
    the per-doc scoring pass; the whole log-ratio term folds into one
    <= `buckets`-row bucket->term table computed bucket-side (4 logs
    per BUCKET, not per gram) and broadcast into a single map-side
    join; then ONE shuffle of per-doc partials. No UDF, no window,
    nothing corpus-scale ever broadcasts or recomputes.

    Returns (id_col, n_grams, log_weight); docs with no grams (empty
    text) are absent."""
    from aml_entity_resolution_assignment_spark.operators.quality import (
        word_ngrams,
        word_tokens,
    )

    if buckets <= 0:
        raise ValueError("need buckets > 0")

    def grams(df: DataFrame, cols: list[str]) -> DataFrame:
        t = F.col(text_col)
        g = F.concat(word_tokens(t), word_ngrams(t, 2))
        b = (hash_u64(F.col("_g"), seed) % F.lit(buckets)).cast("int")
        return (
            df.select(*cols, F.explode(g).alias("_g"))
            .where(F.col("_g") != "")
            .select(*cols, b.alias("_b"))
        )

    a = float(smoothing)

    # ONE gram explode of the raw corpus, reused by the raw count
    # distribution and the scoring join (md5-per-gram is the hot cost)
    tall = grams(docs, [id_col]).localCheckpoint(eager=False)
    p = grams(target_docs, []).groupBy("_b").agg(F.count("*").alias("_cp"))
    q = tall.groupBy("_b").agg(F.count("*").alias("_cq"))
    np_ = p.agg(F.sum("_cp").alias("_np"))
    nq_ = q.agg(F.sum("_cq").alias("_nq"))
    # every tall bucket appears in q by construction, so q is the
    # anchor side; _cp may be absent. All four logs collapse to one
    # double per bucket BEFORE touching the gram table.
    term = (
        F.log(F.coalesce(F.col("_cp"), F.lit(0)) + F.lit(a))
        - F.log(F.col("_np") + F.lit(a * buckets))
        - F.log(F.col("_cq") + F.lit(a))
        + F.log(F.col("_nq") + F.lit(a * buckets))
    )
    terms = (
        q.join(p, "_b", "left")
        .crossJoin(np_)
        .crossJoin(nq_)
        .select("_b", term.alias("_t"))
    )
    return (
        tall.join(F.broadcast(terms), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("_t").alias("log_weight"),
        )
    )


def group_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    seed: int | str = 31,
) -> DataFrame:
    """Deterministic per-group quota: keep at most `cap` rows per
    group, chosen by content hash — the C4/RefinedWeb-style
    domain-cap pass ("at most N pages per registrable domain") that
    stops mega-sites from dominating a training mix. The "random"
    `cap` survivors are fixed by md5(id||seed), so the kept set is
    identical on every run, partitioning, and cluster size, and the
    SQL twin replays it exactly.

    Adds (rank, kept); drops nothing — callers `.where("kept")` or
    route the overflow to a spillover sink. NULL groups are their own
    group (every orphan competes in one bucket; pre-filter if that is
    not wanted).

    Distributed shape: ONE window — row_number over (group, hash) —
    i.e. a single shuffle partitioned by group. Groups far above the
    cap make that group's sort wide; for pathological skew (a 10^8-
    page domain under cap=10^2) pre-thin with sample_fraction on the
    same hash family first — the hash ORDER is preserved under
    hash-threshold thinning, so a pre-thin to ~10*cap expected rows
    followed by this exact window yields the identical survivor set
    with high probability while never sorting the mega-group."""
    from pyspark.sql.window import Window

    if cap < 0:
        raise ValueError("need cap >= 0")
    w = Window.partitionBy(group_col).orderBy(
        hash_u64(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    return df.withColumn("rank", F.row_number().over(w)).withColumn(
        "kept", F.col("rank") <= cap
    )
