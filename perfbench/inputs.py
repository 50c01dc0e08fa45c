"""Seeded inputs for the benchmark workloads.

Every builder is a pure function of its seed: the same seed writes the
same tables. Truth labels are written to separate tables that only the
benchmark's checks read; the engine is handed page tables without them.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.sources.generator import generate_pages

HERE = os.path.dirname(os.path.abspath(__file__))


def batch_pages(
    spark: SparkSession,
    seed: int,
    n_entities: int,
    n_pages: int,
    n_hot_hosts: int,
    hot_block: int,
) -> DataFrame:
    """At most `n_pages` generator pages (with `entity_id`), of which
    `n_hot_hosts * hot_block` sit on `n_hot_hosts` shared hosts.

    Each hot host takes `hot_block` single-page entities, so it is one
    `bk_host` block of exactly that many pages of unrelated entities.
    Single-page entities keep a chance title look-alike on a shared host
    (the cascade's host + title rule) to one wrong pair. The other pages
    are sampled down to the rest of `n_pages`. Fixed sizes keep the
    amount of work the same for every seed."""
    pages = generate_pages(spark, n_entities=n_entities, seed=seed)
    by_hash = Window.orderBy(F.xxhash64(F.lit(seed), F.lit("hot"), "entity_id"), "entity_id")
    hot = (
        pages.groupBy("entity_id")
        .count()
        .where((F.col("count") == 1) & ~F.col("entity_id").endswith("D"))
        .withColumn("_e", F.row_number().over(by_hash) - 1)
        .where(F.col("_e") < n_hot_hosts * hot_block)
        .select("entity_id", (F.col("_e") % n_hot_hosts).alias("_hub"))
    )
    pages = pages.join(hot, "entity_id", "left")
    cold = Window.partitionBy(F.col("_hub").isNull()).orderBy(
        F.xxhash64(F.lit(seed), F.lit("keep"), "url"), "url"
    )
    n_cold = n_pages - n_hot_hosts * hot_block
    pages = pages.withColumn("_r", F.row_number().over(cold)).where(
        F.col("_hub").isNotNull() | (F.col("_r") <= n_cold)
    )
    rehosted = F.concat(
        F.regexp_extract("url", r"^(https?://(?:www\.)?)", 1),
        F.lit("hub"),
        F.col("_hub").cast("string"),
        F.lit(".example.com"),
        F.regexp_extract("url", r"^https?://[^/]+(.*)$", 1),
    )
    pages = pages.withColumn(
        "url", F.when(F.col("_hub").isNull(), F.col("url")).otherwise(rehosted)
    ).drop("_hub", "_r")
    # re-hosting can (rarely) collide two urls: keep the smaller entity
    # id, so the choice does not depend on partitioning
    w = Window.partitionBy("url").orderBy("entity_id")
    return pages.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


# The sf0.1 `documents` table (5,000 rows, doc_id 0-4999), as the
# registered queries and their oracles are checked against it.
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")
# dedup_minhash reads only doc_id < 1000
CAPPED_IDS = 1000


def write_documents(path: str, seed: int, n_low: int, n_window: int) -> pa.Table:
    """Write a `documents` table to `path/documents.parquet`: the sf0.1
    rows with doc_id < `n_low`, plus a run of `n_window` consecutive ids
    from a seeded start at or above CAPPED_IDS, in seeded row order.

    Rows keep their sf0.1 ids and contents. Several queries pair
    documents by id distance (the connected_components chain, the band
    pairs of hac_single and cluster_sweep), so ids are taken in runs,
    not one by one; every pair the slice has is then a pair of sf0.1.
    dedup_minhash reads the `n_low` rows only, the other queries all
    rows; both counts are the same for every seed."""
    table = pq.read_table(DOCUMENTS)
    rng = random.Random(seed)
    n_ids = pc.max(table["doc_id"]).as_py() + 1
    start = rng.randrange(CAPPED_IDS, n_ids - n_window + 1)
    ids = table["doc_id"]
    keep = pc.or_(
        pc.less(ids, n_low),
        pc.and_(pc.greater_equal(ids, start), pc.less(ids, start + n_window)),
    )
    table = table.filter(keep)
    order = list(range(table.num_rows))
    rng.shuffle(order)
    table = table.take(pa.array(order))
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return table
