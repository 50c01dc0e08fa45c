"""Structured Streaming ingestion for the ER engine.

The reference has no streaming (SURVEY.md §2.11); a web-scale crawl
pipeline does: pages arrive continuously, and the keyed table must stay
current without full recompute. Three streaming operators:

  * stream_pages_keyed — readStream -> watermark on warc_ts ->
    streaming dropDuplicates(url) -> the SAME add_blocking_keys
    projection as batch (stateless, so it runs unchanged in a stream)
  * stream_event_counts — tumbling-window counts per event_type with
    late-data watermark (the events testdata shape)
  * incremental_upsert — foreachBatch hook appending each micro-batch
    to the keyed table; candidate generation then runs new-vs-all as a
    two-sided join (operators/resolve.find_candidates), which is the
    streaming-compatible form of the self-join.
  * resolve_stream / er_stream — streaming end-to-end ER (new-vs-all
    resolve, incremental connected components) over a compacted,
    key-family-versioned corpus store.
  * dedup_gate_stream — exact + MinHash-LSH near-dup ADMISSION GATE:
    reject already-seen documents at ingest before they enter the
    corpus; gate state is signatures only, never raw text.

All sinks are exercised with Trigger.AvailableNow in tests —
deterministic, no wall-clock waits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import add_blocking_keys
from ..schemas import PAGES


def read_pages_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    return (
        spark.readStream.format(fmt)
        .schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def stream_pages_keyed(
    pages_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked, url-deduped, blocking-keyed page stream. The keying
    projection is the batch operator verbatim — stateless projections
    are streaming-safe; only the dedup keeps state (bounded by the
    watermark)."""
    deduped = pages_stream.withWatermark("warc_ts", watermark).dropDuplicates(
        ["url"]
    )
    return add_blocking_keys(deduped)


def stream_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window per-type counts + value sums with late-data
    tolerance — the standard streaming aggregation shape."""
    # parquet TIMESTAMP_NTZ is not a valid event-time type; normalize
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
_SESSION_STATE_SCHEMA = "start long, end long, n long, s double"


def sessionize_stream(
    events_stream: DataFrame,
    gap_seconds: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Custom stateful operator: per-user session windows with an
    inactivity gap, via applyInPandasWithState (GroupState per user;
    a session closes when no event arrives for `gap_seconds`, enforced
    by the event-time timeout). Emits one row per CLOSED session.

    This is the operator shape Structured Streaming cannot express with
    built-in windows (session_window exists but not with custom
    aggregates + custom emission); state size is O(active users)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, batches, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, end, n, s = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "sum_value": [s],
                }
            )
            return

        rows = pd.concat(list(batches), ignore_index=True)
        ts_us = (
            pd.to_datetime(rows["ts"]).astype("int64") // 1000
        ).sort_values()
        values = rows["value"].fillna(0.0)
        if state.exists:
            start, end, n, s = state.get
        else:
            start, end, n, s = int(ts_us.iloc[0]), int(ts_us.iloc[0]), 0, 0.0

        out = []
        gap_us = gap_seconds * 1_000_000
        for t, v in zip(ts_us, values.loc[ts_us.index]):
            t = int(t)
            if n > 0 and t - end > gap_us:
                out.append((start, end, n, s))
                start, n, s = t, 0, 0.0
            end = max(end, t)
            n += 1
            s += float(v)
        state.update((start, end, n, s))
        # clamp: for a group whose last event already trails the
        # watermark by more than the gap, end+gap <= watermark and
        # setTimeoutTimestamp rejects it — fire at watermark+1ms
        # instead (the session is due immediately). NOTE on ordering:
        # a cross-micro-batch late event inside the gap extends the
        # open session but never rewinds session_start — batch
        # (sessionize_batch) and stream agree on watermark-respecting
        # inputs; later-than-watermark stragglers diverge by design.
        timeout_ms = max(
            end // 1000 + gap_seconds * 1000,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(timeout_ms)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [pd.Timestamp(o[0], unit="us") for o in out],
                    "session_end": [pd.Timestamp(o[1], unit="us") for o in out],
                    "n_events": [o[2] for o in out],
                    "sum_value": [round(o[3], 6) for o in out],
                }
            )

    events = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 600) -> DataFrame:
    """Batch twin of sessionize_stream — pure window functions (lag +
    cumulative new-session flags), fully SQL-expressible, used as the
    correctness oracle for the stateful operator."""
    from pyspark.sql import Window

    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = e.withColumn(
        "_new",
        # microsecond precision: cast-to-long truncates to seconds and
        # mis-splits gaps like 600.5s vs the stateful/stream semantics
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > gap_seconds * 1_000_000,
            1,
        ).otherwise(0),
    ).withColumn(
        "_sess", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy("user_id", "_sess")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias("sum_value"),
        )
        .drop("_sess")
    )


def incremental_upsert(
    keyed_stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
):
    """foreachBatch sink writing each micro-batch of keyed pages under
    the keyed table path. Returns the StreamingQuery (AvailableNow
    trigger: drains what exists, then stops — suits both tests and
    scheduled incremental runs).

    IDEMPOTENT under replay: foreachBatch is at-least-once, so a
    micro-batch re-delivered after a failure/restart must not duplicate
    rows. Each batch writes to its own `batch=<id>` partition directory
    with mode=overwrite — the replay overwrites the same directory
    byte-for-byte instead of appending a second copy (the parquet-
    directory stand-in for a transactional table format's MERGE; see
    sources/io.py). Read the table back with `read_incremental_table`
    (drops the bookkeeping partition column)."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{target_path}/batch={batch_id}"
        )

    return (
        keyed_stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_incremental_table(spark: SparkSession, target_path: str) -> DataFrame:
    """Read an incremental_upsert target; `batch` is sink bookkeeping,
    not data."""
    return spark.read.parquet(target_path).drop("batch")


def _list_partition_ids(spark: SparkSession, path: str, key: str) -> list[int]:
    """Ids of `<key>=<int>` subdirectories under `path` (Hadoop FS API —
    works on any cluster filesystem, not just local). Missing parent
    directory is an empty list; any OTHER filesystem error propagates
    so a transient failure retries the micro-batch instead of being
    silently treated as 'no data'."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(key + "="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


CORPUS_PK_BUCKETS = 32  # partition count of the compacted corpus store


def check_key_family(spark: SparkSession, corpus_path: str) -> str:
    """Fail fast if the corpus dir holds blocking keys from another
    hash family (ADVICE r3: cross-family banding is ~random — silent
    recall loss). Returns this family's corpus root. Pre-versioning
    corpora (bare inc/ or base/ at the top level) are also foreign.
    Shared by resolve_stream AND er_stream (ADVICE r4: er_stream
    previously skipped the check and would silently start matching
    from an empty corpus next to a foreign-family one)."""
    from ..functions.minhash import KEY_FAMILY

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(corpus_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        names = [st.getPath().getName() for st in fs.listStatus(jpath)]
        foreign = [
            n for n in names
            if (n.startswith("keys=") and n != f"keys={KEY_FAMILY}")
            or n in ("inc", "base")
        ]
        if foreign:
            raise RuntimeError(
                f"resolve corpus at {corpus_path} contains blocking "
                f"keys from a different hash family ({foreign}); this "
                f"engine derives family '{KEY_FAMILY}' "
                "(functions/minhash.py KEY_FAMILY). Re-key the corpus "
                "(re-run ingest) or point corpus_path elsewhere — "
                "cross-family bands never match and would silently "
                "drop recall."
            )
    return f"{corpus_path}/keys={KEY_FAMILY}"


def read_resolve_corpus(
    spark: SparkSession, corpus_path: str, before_batch: int
) -> DataFrame | None:
    """Corpus snapshot as of (strictly before) `before_batch`: the
    newest compacted base snapshot plus the <= compact_every incremental
    batch dirs after it. Returns None when no data exists yet (explicit
    first-batch detection — NOT exception-driven, so corrupt files or
    transient FS errors propagate and the micro-batch retries rather
    than being silently skipped, per-batch results never lost).

    `corpus_path` is the TOP-LEVEL corpus dir; data lives under the
    hash-family subdir keys=<KEY_FAMILY> (resolved here, so callers
    never address a foreign family's keys by accident).

    The per-batch input stays BOUNDED as the stream ages: one
    pk-partitioned base table (O(corpus) rows but a fixed, compacted
    file count) + a bounded tail of small inc dirs — without compaction
    the file/dir count grows O(total batches) and every micro-batch
    pays the full listing + footer cost."""
    from ..functions.minhash import KEY_FAMILY

    fam = f"keys={KEY_FAMILY}"
    if not corpus_path.rstrip("/").endswith(fam):
        corpus_path = f"{corpus_path}/{fam}"
    bases = [m for m in _list_partition_ids(spark, f"{corpus_path}/base", "upto")
             if m < before_batch]
    incs = [n for n in _list_partition_ids(spark, f"{corpus_path}/inc", "batch")
            if n < before_batch]
    m = max(bases) if bases else -1
    tail = [n for n in incs if n > m]
    parts = []
    if m >= 0:
        parts.append(
            spark.read.parquet(f"{corpus_path}/base/upto={m}").drop("_pk")
        )
    parts.extend(
        spark.read.parquet(f"{corpus_path}/inc/batch={n}") for n in tail
    )
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def resolve_stream(
    pages_stream: DataFrame,
    corpus_path: str,
    results_path: str,
    checkpoint_path: str,
    thresholds=None,
    limit: int = 50,
    compact_every: int = 16,
):
    """Streaming END-TO-END entity resolution: each micro-batch of new
    pages is blocking-keyed, resolved against the accumulated keyed
    corpus (new-vs-all two-sided join — the streaming-compatible form
    of the batch self-join), its best matches appended, and the new
    pages merged into the corpus.

    Corpus layout (bounded per-batch scan; `keys=<family>` versions the
    blocking-key hash family — functions/minhash.py KEY_FAMILY — so a
    corpus keyed under an older family is never silently banded against
    newer batches; a foreign-family corpus raises on the first batch):
      corpus_path/keys=<fam>/inc/batch=<id>   one dir per micro-batch
      corpus_path/keys=<fam>/base/upto=<id>   compacted snapshots: all
                                   pages from batches <= id, hash-
                                   partitioned by
                                   _pk = xxhash64(url) % CORPUS_PK_BUCKETS
    Every `compact_every` batches the inc tail folds into a new base
    snapshot, so a micro-batch reads ONE compacted store + <=
    compact_every small dirs instead of O(total batches) dirs
    (tests/test_streaming.py asserts inputFiles stays bounded).

    All writes are idempotent under foreachBatch's at-least-once
    replay: inc dirs and base snapshots are per-batch-id overwrite
    directories with deterministic content (a replay rewrites the same
    bytes), and the corpus read uses only ids < current batch — a
    replayed batch resolves against exactly the state its first attempt
    saw. Returns the StreamingQuery (AvailableNow).

    Cost model: each compaction rewrites the full base (O(corpus) every
    compact_every batches — the plain-parquet analog of an Iceberg
    rewrite_data_files maintenance job; on a real deployment the base
    is an Iceberg table and compaction is its incremental MERGE, so
    only this sandbox pays the full rewrite). Old base/upto=<m> and
    inc/batch=<n<=m> dirs become dead after a newer snapshot and may be
    garbage-collected out of band (reads never touch them)."""
    from ..operators.resolve import resolve

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        corpus_root = check_key_family(spark, corpus_path)
        keyed_new = add_blocking_keys(batch_df)
        corpus = read_resolve_corpus(spark, corpus_root, batch_id)
        if corpus is not None:
            res = resolve(
                keyed_new,
                corpus,
                thresholds=thresholds,
                limit=limit,
                already_keyed=True,
            )
            res.write.mode("overwrite").parquet(
                f"{results_path}/batch={batch_id}"
            )
        keyed_new.write.mode("overwrite").parquet(
            f"{corpus_root}/inc/batch={batch_id}"
        )

        bases = _list_partition_ids(spark, f"{corpus_root}/base", "upto")
        last_base = max((m for m in bases if m < batch_id), default=-1)
        if batch_id - last_base >= compact_every:
            snapshot = read_resolve_corpus(spark, corpus_root, batch_id)
            snapshot = (
                keyed_new if snapshot is None
                else snapshot.unionByName(keyed_new)
            )
            (
                snapshot.withColumn(
                    "_pk",
                    F.pmod(F.xxhash64("url"), F.lit(CORPUS_PK_BUCKETS)),
                )
                .repartition("_pk")
                .write.mode("overwrite")
                .partitionBy("_pk")
                .parquet(f"{corpus_root}/base/upto={batch_id}")
            )

    return (
        pages_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming entity-cluster maintenance (round 4): transitive clustering
# kept up to date per micro-batch WITHOUT re-running CC over the full
# graph — the streaming face of operators/cluster.py's incremental CC.
# ---------------------------------------------------------------------------


def read_cluster_assignments(
    spark: SparkSession, path: str, before_batch: int
) -> DataFrame | None:
    """Entity assignment as of (strictly before) `before_batch`: the
    newest compacted base snapshot with the subsequent relabel/fresh
    deltas folded on IN ORDER (each delta is one broadcast join + a
    union — apply_cc_delta). None when no base exists yet."""
    from ..operators.cluster import apply_cc_delta

    bases = [m for m in _list_partition_ids(spark, f"{path}/base", "upto")
             if m < before_batch]
    if not bases:
        return None
    m = max(bases)
    assign = spark.read.parquet(f"{path}/base/upto={m}")
    deltas = [n for n in _list_partition_ids(spark, f"{path}/delta", "batch")
              if m < n < before_batch]
    for n in sorted(deltas):
        relabel = spark.read.parquet(f"{path}/delta/batch={n}/relabel")
        fresh = spark.read.parquet(f"{path}/delta/batch={n}/fresh")
        assign = apply_cc_delta(assign, relabel, fresh)
    return assign


def cluster_stream(
    edges_stream: DataFrame,
    path: str,
    checkpoint_path: str,
    compact_every: int = 16,
):
    """Maintain entity-cluster assignments over a stream of match
    edges (id_a, id_b). Batch 0 runs full CC and writes a base
    snapshot; every later micro-batch computes only the
    incremental-CC DELTA — the (old_label -> new_label) map for
    touched components (bounded by the batch) plus fresh-vertex rows —
    and persists that, so the per-batch write is O(batch), not
    O(corpus). Every `compact_every` batches the delta tail folds into
    a new base snapshot (the plain-parquet analog of an Iceberg MERGE
    maintenance job), keeping the read path at one base + a bounded
    join chain.

    Idempotent under foreachBatch's at-least-once replay: per-batch-id
    overwrite dirs with deterministic content, reads use only ids <
    current batch. Returns the StreamingQuery (AvailableNow)."""
    from ..operators.cluster import connected_components, incremental_cc_delta

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        edges = batch_df.select(
            F.col("id_a").cast("string"), F.col("id_b").cast("string")
        )
        prev = read_cluster_assignments(spark, path, batch_id)
        if prev is None:
            assign = connected_components(edges, id_col="url")
            assign.write.mode("overwrite").parquet(
                f"{path}/base/upto={batch_id}"
            )
            return
        relabel, fresh = incremental_cc_delta(prev, edges)
        relabel.write.mode("overwrite").parquet(
            f"{path}/delta/batch={batch_id}/relabel"
        )
        fresh.write.mode("overwrite").parquet(
            f"{path}/delta/batch={batch_id}/fresh"
        )
        bases = _list_partition_ids(spark, f"{path}/base", "upto")
        last_base = max((m for m in bases if m < batch_id), default=-1)
        if batch_id - last_base >= compact_every:
            snap = read_cluster_assignments(spark, path, batch_id + 1)
            snap.write.mode("overwrite").parquet(
                f"{path}/base/upto={batch_id}"
            )

    return (
        edges_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _route_late_pages(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    lateness_seconds: int,
) -> DataFrame:
    """Explicit event-time watermark for foreachBatch streams: persist
    this batch's max(warc_ts) under root/watermark/batch=<id>
    (idempotent per-batch overwrite, deterministic content), compute
    the cutoff from batches STRICTLY BEFORE this one (so a replayed
    batch routes identically), split off pages with
    warc_ts < cutoff - lateness into root/late/batch=<id>, and return
    the on-time remainder. NULL warc_ts is on-time."""
    import datetime as _dt

    wm_root = f"{root}/watermark"
    prev = [
        i for i in _list_partition_ids(spark, wm_root, "batch") if i < batch_id
    ]
    prev_max = None
    if prev:
        wm = spark.read.parquet(*[f"{wm_root}/batch={i}" for i in prev])
        prev_max = wm.agg(F.max("max_ts")).collect()[0][0]
    batch_df.agg(F.max(F.col("warc_ts")).alias("max_ts")).write.mode(
        "overwrite"
    ).parquet(f"{wm_root}/batch={batch_id}")
    if prev_max is None:
        return batch_df
    cutoff = prev_max - _dt.timedelta(seconds=lateness_seconds)
    is_late = F.col("warc_ts").isNotNull() & (F.col("warc_ts") < F.lit(cutoff))
    batch_df.where(is_late).write.mode("overwrite").parquet(
        f"{root}/late/batch={batch_id}"
    )
    # ~is_late is TRUE for null warc_ts (isNotNull() makes the AND false)
    return batch_df.where(~is_late)


def er_stream(
    pages_stream: DataFrame,
    root: str,
    checkpoint_path: str,
    thresholds=None,
    candidate_limit: int = 200,
    compact_every: int = 16,
    lateness_seconds: int | None = None,
):
    """The full north_star loop as ONE streaming query: pages arrive
    continuously; each micro-batch is blocking-keyed, match-scored
    against the accumulated corpus AND within itself, and the emitted
    match edges fold into the entity-cluster assignment INCREMENTALLY
    (contracted-component relabel deltas — never a full-graph CC
    recompute). Produces, under `root`:

      corpus/keys=<fam>/...   the compacted keyed corpus (same layout
                              + hash-family versioning as resolve_stream)
      matches/batch=<id>      per-batch classified match edges (audit)
      clusters/base|delta     entity assignments, maintained by
                              incremental-CC deltas + periodic bases

    Per-batch cost: candidates/scoring proportional to the batch's
    blocks, ONE broadcast relabel join against the assignment table,
    O(batch)-sized persisted deltas. Idempotent under foreachBatch
    replay (per-batch-id overwrite dirs, reads strictly below the
    current batch id). Exactness: the final assignment equals the
    batch pipeline's resolve_entities over all pages (parity test) —
    edge (a, b) is discovered when the later page arrives (new-vs-
    corpus) or in its own batch (new-vs-new), and min-id labels are
    order-invariant.

    Event-time late data (`lateness_seconds`, VERDICT r4 item 6): by
    default every arriving page is processed in its arrival batch
    (processing-time semantics — min-id CC labels are arrival-order
    invariant, but WHICH batch a page's corpus/cluster state lands in
    is not). With `lateness_seconds` set, the stream maintains its own
    event-time high watermark over warc_ts (persisted per batch under
    root/watermark — foreachBatch sees no engine watermark, so the
    state is explicit and replay-deterministic: batch N's cutoff =
    max(warc_ts) over batches < N, minus the allowance). Pages older
    than the cutoff are ROUTED to root/late/batch=<id> — a correction
    table for out-of-band reprocessing (the Iceberg-MERGE analog of a
    late-arriving fact) — and excluded from matching, corpus, and
    cluster maintenance, so the live tables' contents become a
    deterministic function of event time, not arrival order. Pages
    with NULL warc_ts are never late (no event time to judge)."""
    from ..operators.candidates import candidate_pairs
    from ..operators.classify import classify
    from ..operators.cluster import (
        apply_cc_delta, connected_components, incremental_cc_delta,
    )
    from ..operators.features import pair_features
    from ..operators.resolve import find_candidates

    corpus_path = f"{root}/corpus"
    clusters_path = f"{root}/clusters"

    def _read_assignments(spark, before):
        bases = [m for m in _list_partition_ids(spark, f"{clusters_path}/base", "upto")
                 if m < before]
        if not bases:
            return None
        m = max(bases)
        assign = spark.read.parquet(f"{clusters_path}/base/upto={m}")
        for n in sorted(
            x for x in _list_partition_ids(spark, f"{clusters_path}/delta", "batch")
            if m < x < before
        ):
            assign = apply_cc_delta(
                assign,
                spark.read.parquet(f"{clusters_path}/delta/batch={n}/relabel"),
                spark.read.parquet(f"{clusters_path}/delta/batch={n}/fresh"),
            )
        return assign

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        corpus_root = check_key_family(spark, corpus_path)
        if lateness_seconds is not None:
            batch_df = _route_late_pages(
                spark, batch_df, batch_id, root, lateness_seconds
            )
        keyed_new = add_blocking_keys(batch_df)
        corpus = read_resolve_corpus(spark, corpus_path, batch_id)

        pairs_nn = candidate_pairs(keyed_new)
        if corpus is not None:
            cand = find_candidates(keyed_new, corpus, limit=candidate_limit)
            pairs_nc = cand.select(
                F.least("query_id", "candidate_id").alias("id_a"),
                F.greatest("query_id", "candidate_id").alias("id_b"),
            )
            pairs = pairs_nn.unionByName(pairs_nc).dropDuplicates(
                ["id_a", "id_b"]
            )
            lookup = corpus.unionByName(keyed_new)
        else:
            pairs = pairs_nn
            lookup = keyed_new
        classified = classify(pair_features(pairs, lookup), thresholds)
        edges = classified.where(F.col("is_match") == 1).select(
            "id_a", "id_b"
        )
        edges.write.mode("overwrite").parquet(
            f"{root}/matches/batch={batch_id}"
        )
        edges = spark.read.parquet(f"{root}/matches/batch={batch_id}")

        prev = _read_assignments(spark, batch_id)
        new_urls = keyed_new.select(F.col("url").cast("string")).distinct()
        if prev is None:
            assign = connected_components(
                edges, vertices=new_urls, id_col="url"
            )
            assign.write.mode("overwrite").parquet(
                f"{clusters_path}/base/upto={batch_id}"
            )
        else:
            relabel, fresh = incremental_cc_delta(prev, edges, id_col="url")
            # pages with no edges still need singleton assignments
            edge_urls = (
                edges.select(F.col("id_a").cast("string").alias("url"))
                .unionByName(edges.select(F.col("id_b").cast("string").alias("url")))
                .distinct()
            )
            singletons = (
                new_urls.join(edge_urls, "url", "left_anti")
                .join(prev.select(F.col("url")), "url", "left_anti")
                .select("url", F.col("url").alias("predicted_entity_id"))
            )
            relabel.write.mode("overwrite").parquet(
                f"{clusters_path}/delta/batch={batch_id}/relabel"
            )
            fresh.unionByName(singletons).dropDuplicates(["url"]).write.mode(
                "overwrite"
            ).parquet(f"{clusters_path}/delta/batch={batch_id}/fresh")
            bases = _list_partition_ids(spark, f"{clusters_path}/base", "upto")
            last_base = max((m for m in bases if m < batch_id), default=-1)
            if batch_id - last_base >= compact_every:
                snap = _read_assignments(spark, batch_id + 1)
                snap.write.mode("overwrite").parquet(
                    f"{clusters_path}/base/upto={batch_id}"
                )

        # corpus upkeep (same as resolve_stream)
        keyed_new.write.mode("overwrite").parquet(
            f"{corpus_root}/inc/batch={batch_id}"
        )
        bases = _list_partition_ids(spark, f"{corpus_root}/base", "upto")
        last_base = max((m for m in bases if m < batch_id), default=-1)
        if batch_id - last_base >= compact_every:
            snapshot = read_resolve_corpus(spark, corpus_path, batch_id)
            snapshot = (
                keyed_new if snapshot is None
                else snapshot.unionByName(keyed_new)
            )
            (
                snapshot.withColumn(
                    "_pk", F.pmod(F.xxhash64("url"), F.lit(CORPUS_PK_BUCKETS))
                )
                .repartition("_pk")
                .write.mode("overwrite")
                .partitionBy("_pk")
                .parquet(f"{corpus_root}/base/upto={batch_id}")
            )

    return (
        pages_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_er_stream_clusters(spark: SparkSession, root: str) -> DataFrame:
    """Final (url, predicted_entity_id) assignment maintained by
    er_stream."""
    clusters_path = f"{root}/clusters"
    from ..operators.cluster import apply_cc_delta

    bases = _list_partition_ids(spark, f"{clusters_path}/base", "upto")
    if not bases:
        raise ValueError(f"no cluster snapshots under {clusters_path}")
    m = max(bases)
    assign = spark.read.parquet(f"{clusters_path}/base/upto={m}")
    for n in sorted(
        x for x in _list_partition_ids(spark, f"{clusters_path}/delta", "batch")
        if x > m
    ):
        assign = apply_cc_delta(
            assign,
            spark.read.parquet(f"{clusters_path}/delta/batch={n}/relabel"),
            spark.read.parquet(f"{clusters_path}/delta/batch={n}/fresh"),
        )
    return assign


# ---------------------------------------------------------------------------
# Streaming dedup gate: reject already-seen / near-duplicate documents
# at ingest, BEFORE they enter the corpus — the training-data-pipeline
# front door (a crawl re-serves the same page endlessly; admitting it
# and deduping later multiplies every downstream stage's input).
# ---------------------------------------------------------------------------


def dedup_gate_stream(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.9,
    compact_every: int = 16,
):
    """Streaming exact + MinHash-LSH near-dup ADMISSION GATE: each
    micro-batch keeps only documents that are neither byte-duplicates
    nor jaccard>=threshold near-duplicates of (a) the accumulated
    accepted store or (b) an earlier-id document in the same batch.
    Survivors' documents land under out_path/batch=<id>; survivors'
    SIGNATURES (content hash + packed token hash set + LSH band
    hashes — never raw text) land in the store, so gate state is a
    few dozen bytes per accepted doc.

    Store layout/versioning/idempotency are the resolve_stream
    machinery verbatim: keys=<KEY_FAMILY> root (check_key_family fails
    fast on a foreign token-hash family), inc/batch=<id> overwrite
    dirs, base/upto=<id> compaction every compact_every batches, reads
    bounded to one base + a short inc tail, every write a
    deterministic per-batch-id overwrite (at-least-once replay safe:
    a replayed batch reads only ids < its own and rewrites identical
    bytes).

    In-batch tie-break is the standard greedy gate: of each verified
    near-dup pair, the larger id is rejected. Greedy (not transitive):
    in a chain a<b<c with a~b and b~c but NOT a~c, both b and c are
    rejected even though c's nearest kept neighbor was itself
    rejected — deterministic, one pass, no CC; the conservative
    direction for a gate (never admits a near-dup, may over-reject on
    chains). Batch-vs-store checking uses the store's banded
    signatures: an equi-join on band hash + exact hashset-jaccard
    verify, the same bounded LSH shape as the batch dedup operator."""
    from ..functions import minhash as mh
    from ..functions import similarity as sim
    from ..operators.candidates import band_join_pairs
    from pyspark.sql.types import DoubleType

    bands, rows_per = mh.banding_for_threshold(threshold)
    jacc = F.pandas_udf(sim.batch_hashset_jaccard, DoubleType())

    def _sigs(df: DataFrame) -> DataFrame:
        norm = F.lower(
            F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
        )
        return df.select(
            F.col(id_col).alias("_id"),
            F.xxhash64(norm).alias("_chash"),
            mh.token_hashset_udf()(norm).alias("_tok"),
            mh.band_hashes_udf(bands, rows_per)(
                mh.minhash_udf(bands * rows_per)(norm)
            ).alias("_bands"),
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        root = check_key_family(spark, store_path)

        # one doc per id (at-source retries can repeat a url within a
        # batch), then signatures once, persisted: they feed the exact
        # gate, both band-join sides, and the final writes
        w_id = Window.partitionBy("_gid").orderBy(F.col(text_col))
        docs = (
            batch_df.withColumn("_gid", F.col(id_col))
            .withColumn("_rn", F.row_number().over(w_id))
            .where(F.col("_rn") == 1)
            .drop("_gid", "_rn")
        )
        persisted = []

        def _persist(df: DataFrame) -> DataFrame:
            df = df.persist()
            persisted.append(df)
            return df

        sigs = _persist(_sigs(docs))
        store = read_resolve_corpus(spark, root, batch_id)

        # exact gates: content hash vs store, then keep-min within batch
        if store is not None:
            sigs_live = sigs.join(
                store.select("_chash").distinct(), "_chash", "left_anti"
            )
        else:
            sigs_live = sigs
        w_ch = Window.partitionBy("_chash").orderBy("_id")
        sigs_live = _persist(
            sigs_live.withColumn("_rn", F.row_number().over(w_ch))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

        # near-dup vs store: batch band -> store band equi-join,
        # hashset-jaccard verify >= threshold rejects the batch doc
        if store is not None:
            b_bands = sigs_live.select(
                "_id", "_tok", F.explode("_bands").alias("_b")
            )
            s_bands = store.select(
                F.col("_tok").alias("_stok"), F.explode("_bands").alias("_b")
            )
            hit = (
                b_bands.join(s_bands, "_b")
                .withColumn("_j", jacc("_tok", "_stok"))
                .where(F.col("_j") >= threshold)
                .select("_id")
                .distinct()
            )
            sigs_live = _persist(sigs_live.join(hit, "_id", "left_anti"))

        # near-dup within batch: banded self-join + verify; greedy
        # larger-id rejection
        pairs = band_join_pairs(sigs_live, "_bands", id_col="_id")
        a = sigs_live.select(F.col("_id").alias("id_a"), F.col("_tok").alias("_ta"))
        b = sigs_live.select(F.col("_id").alias("id_b"), F.col("_tok").alias("_tb"))
        rejected = (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("_j", jacc("_ta", "_tb"))
            .where(F.col("_j") >= threshold)
            .select(
                F.greatest(
                    F.col("id_a").cast("string"),
                    F.col("id_b").cast("string"),
                ).alias("_id")
            )
            .distinct()
        )
        survivors = _persist(sigs_live.join(rejected, "_id", "left_anti"))

        # idempotent writes: docs out, signatures into the store
        docs.join(
            survivors.select(F.col("_id").alias(id_col)), id_col, "left_semi"
        ).write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        survivors.select("_id", "_chash", "_tok", "_bands").write.mode(
            "overwrite"
        ).parquet(f"{root}/inc/batch={batch_id}")

        bases = _list_partition_ids(spark, f"{root}/base", "upto")
        last_base = max((m for m in bases if m < batch_id), default=-1)
        if batch_id - last_base >= compact_every:
            snapshot = read_resolve_corpus(spark, root, batch_id)
            new_sigs = survivors.select("_id", "_chash", "_tok", "_bands")
            snapshot = (
                new_sigs if snapshot is None
                else snapshot.unionByName(new_sigs)
            )
            (
                snapshot.withColumn(
                    "_pk",
                    F.pmod(F.xxhash64("_id"), F.lit(CORPUS_PK_BUCKETS)),
                )
                .repartition("_pk")
                .write.mode("overwrite")
                .partitionBy("_pk")
                .parquet(f"{root}/base/upto={batch_id}")
            )
        for df in persisted:
            df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_accepted_docs(spark: SparkSession, out_path: str) -> DataFrame:
    """All documents the dedup gate has accepted so far."""
    return spark.read.parquet(out_path).drop("batch")
