"""Cache lifetime: a registered query leaves no cached plan behind.

Intermediates read more than once are lazy local checkpoints, whose
blocks Spark's ContextCleaner frees with their DataFrame; nothing goes
into the session's CacheManager and no caller has a release step. The
probe runs queries back to back in one session, as the bench and the
oracle sweep do, and checks the CacheManager after each one.
getPersistentRDDs() is not asserted: the ContextCleaner frees those on
garbage collection, not at a fixed point."""

import os

import __spark_entry__ as entry
from tools import check_oracles

SF = os.path.join(os.path.dirname(check_oracles.SF), "sf0.001")

PROBES = [
    "candidate_pairs", "pair_features", "rule_cascade",
    "connected_components", "eval_prf", "resolve_best_match",
    "dedup_minhash", "snm_pairs", "shard_by_tokens", "pack_sequences",
    "ann_lsh", "image_neardup", "fellegi", "fellegi_tf", "fellegi_ml",
    "fs_review_queue", "fs_pr_curve", "fs_calibration", "fs_explain",
    "classifier_disagreement", "dedup_simhash", "hac_single",
    "cluster_sweep", "kmeans_cells",
]


def test_queries_leave_the_cache_manager_empty(spark):
    # other test modules cache their fixtures in this shared session
    spark.catalog.clearCache()
    assert check_oracles.cache_is_empty(spark)
    queries = entry.queries()
    leaked = []
    for name in PROBES:
        queries[name](spark, SF).collect()
        if not check_oracles.cache_is_empty(spark):
            leaked.append(name)
            spark.catalog.clearCache()
    assert leaked == []
