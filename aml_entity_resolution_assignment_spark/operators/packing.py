"""Sequence packing: concat tokenized docs, emit fixed-length blocks.

The final stage of every LLM pretraining pipeline: documents become
token arrays (functions/bpe.py or whitespace tokens), the corpus is
concatenated in a canonical document order (optionally with an EOS
token after each document), and the stream is cut into fixed-length
training blocks. Deterministic: block b always contains global token
positions [b*L, (b+1)*L), independent of partitioning.

Scale design (10^12 docs): the naive formulation needs a global
running-sum window (one ordered partition — a single-reducer
scale-killer) or a token-level explode (|corpus| rows through a
shuffle). This implementation does neither:

1. range-partition docs by id; per-partition token-count cumsum runs
   as a window PARTITIONED by spark_partition_id() (parallel), and the
   per-partition totals (#partitions rows — aggregate-sized) are
   collected once and broadcast back as partition base offsets: the
   standard two-phase distributed prefix sum.
2. each doc emits one row per training block it overlaps (explode of a
   2-3 element block-id sequence, NOT per token) carrying the exact
   array slice for that block; the groupBy(block) then moves each
   token exactly once — packing's inherent single data pass — and
   reassembles slices with an order-pinning sort_array.

The partial tail block is dropped by default (drop_last), matching
standard pretraining practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _with_global_offsets(
    docs: DataFrame, id_col: str, n_col: str
) -> DataFrame:
    """Add `start`: the exclusive running sum of n_col in id_col order.

    Two-phase prefix sum: range repartition by id (ranges are assigned
    to ascending partition ids, so partition-local order + partition
    base = global order), per-partition cumsum window, then one
    #partitions-row collect for the bases. The final offsets are
    partitioning-invariant even though the sampled range boundaries are
    not — the cumsum in id order is well-defined wherever the cuts
    fall.
    """
    d = docs.repartitionByRange(F.col(id_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # pin partition assignment between the two reads
    d = d.localCheckpoint(eager=False)
    w = Window.partitionBy("_pid").orderBy(id_col)
    local = (F.sum(n_col).over(w) - F.col(n_col)).alias("_local")
    totals = sorted(
        d.groupBy("_pid").agg(F.sum(n_col).alias("_tot")).collect(),
        key=lambda r: r["_pid"],
    )
    bases, acc = [], 0
    for r in totals:
        bases.append((r["_pid"], acc))
        acc += r["_tot"] or 0
    spark = docs.sparkSession
    base_df = spark.createDataFrame(bases, "_pid int, _base long")
    out = (
        d.select("*", local)
        .join(F.broadcast(base_df), "_pid")
        .withColumn("start", (F.col("_base") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_base")
    )
    return out


def pack_sequences(
    docs: DataFrame,
    block_size: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    eos: object | None = None,
    drop_last: bool = True,
) -> DataFrame:
    """(id, tokens array) -> (block_id, n_tokens, tokens) fixed blocks.

    Token stream = concat of tokens in ascending id order, `eos`
    appended after each doc when given; block b = positions
    [b*block_size, (b+1)*block_size). Empty docs contribute nothing
    (an eos is still emitted for them when eos is set — an empty
    document is still a document boundary).
    """
    if block_size <= 0:
        raise ValueError("block_size must be positive")
    toks: Column = F.col(tokens_col)
    if eos is not None:
        toks = F.concat(toks, F.array(F.lit(eos)))
    d = docs.select(F.col(id_col).alias("_id"), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    d = d.where(F.col("_n") > 0)
    d = _with_global_offsets(d, "_id", "_n")

    L = F.lit(block_size).cast("long")
    first = (F.col("start") / L).cast("long")
    last = ((F.col("start") + F.col("_n") - 1) / L).cast("long")
    spans = d.select(
        "_toks",
        "start",
        "_n",
        F.explode(F.sequence(first, last)).alias("block_id"),
    )
    # intersection of [start, start+n) with [b*L, (b+1)*L)
    gstart = F.greatest(F.col("start"), F.col("block_id") * L)
    gend = F.least(F.col("start") + F.col("_n"), (F.col("block_id") + 1) * L)
    chunk = F.slice(
        "_toks",
        (gstart - F.col("start") + 1).cast("int"),
        (gend - gstart).cast("int"),
    )
    pieces = spans.select(
        "block_id",
        F.struct(gstart.alias("off"), chunk.alias("chunk")).alias("piece"),
    )
    out = (
        pieces.groupBy("block_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list("piece")), lambda p: p["chunk"]
                )
            ).alias("tokens")
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
    if drop_last:
        out = out.where(F.col("n_tokens") == block_size)
    return out.select("block_id", "n_tokens", "tokens")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split long documents into fixed-size overlapping token chunks —
    the standard pre-tokenization shape for embedding models and
    long-context training (HF ``return_overflowing_tokens`` semantics:
    chunk ``i`` starts at token ``i * stride``, covers up to
    ``chunk_tokens`` tokens, and overlapping tails that add no new
    tokens are suppressed).  The complement of ``pack_sequences``:
    packing joins short docs into blocks, chunking splits long docs
    into windows.

    Returns (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text);
    empty/whitespace docs produce no chunks.  ``stride`` must satisfy
    ``0 < stride <= chunk_tokens`` (equal means no overlap).

    Scale shape: one codegen'd projection builds the per-doc start
    list inside array higher-order functions, then a single
    ``posexplode`` fans chunks out — no shuffle, no UDF, no window;
    output partitioning inherits the scan, so at 100 TB this is a
    map-only stage whose output count is bounded by
    ``n_tokens / stride`` per document.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride} > {chunk_tokens}"
        )
    t = F.col(text_col)
    # tokenize in a CHILD projection: the start-list and chunk lambdas
    # below must reference the array ATTRIBUTE — an inlined split
    # subtree is re-evaluated per chunk position in interpreted HOF
    # eval (one regex split per start index otherwise)
    toks = F.col("_toks")
    n = F.size(toks)
    # starts at 0, stride, 2*stride, ... while the chunk adds tokens:
    # keep s if it is the first chunk or the previous chunk's end
    # (s - stride + chunk_tokens) did not already reach the doc end
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0)
        | (s - F.lit(stride) + F.lit(chunk_tokens) < n),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.least(F.lit(chunk_tokens), n - s).alias("n"),
            F.array_join(
                F.slice(toks, s + 1, chunk_tokens), " "
            ).alias("text"),
        ),
    )
    return (
        df.where(F.trim(t) != "")
        .select(F.col(id_col), F.split(F.trim(t), r"\s+").alias("_toks"))
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c"))
        .select(
            id_col,
            "chunk_id",
            F.col("_c.start").alias("chunk_start"),
            F.col("_c.n").alias("n_chunk_tokens"),
            F.col("_c.text").alias("chunk_text"),
        )
    )


def shard_by_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_shard: int = 100_000,
) -> DataFrame:
    """Assign each document to a token-balanced output shard — the
    layout step before writing a training corpus: data loaders want
    shards of near-equal TOKEN volume, not equal row counts (docs vary
    100x in length, so row-count bucketing yields 100x-skewed shards).

    Documents are taken in canonical ``id_col`` order; doc ``d`` with
    exclusive running token sum ``start`` lands in shard
    ``start // tokens_per_shard``.  Whole documents are never split
    (shard boundaries shift by at most one doc's tokens), assignment
    is deterministic and partitioning-invariant, and
    ``df.repartition("shard_id").write...`` then produces the
    balanced files.

    Scale shape: reuses the two-phase distributed prefix sum
    (`_with_global_offsets`) — per-partition cumsum windows in
    parallel plus one #partitions-row collect for base offsets; no
    global-order window, no single reducer, no token-level explode.
    """
    t = F.col(text_col)
    n_tokens = (
        F.when(F.trim(t) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(t), r"\s+")))
    )
    d = df.select(F.col(id_col), n_tokens.alias("n_tokens"))
    out = _with_global_offsets(d, id_col, "n_tokens")
    return out.select(
        id_col,
        "n_tokens",
        F.col("start").alias("token_start"),
        (F.col("start") / F.lit(tokens_per_shard))
        .cast("long")
        .alias("shard_id"),
    )
