"""Physical-plan quality gates (SURVEY.md §4): the optimizer must get
the plans we designed for — pushdown into scans, no nested-loop joins
in the candidate path, whole-stage codegen around the rule cascade."""

import re

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import blocking, candidates, classify
from aml_entity_resolution_assignment_spark.sources.generator import generate_pages


def _plan(df) -> str:
    jvm = df.sparkSession._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)  # noqa: SLF001


@pytest.fixture(scope="module")
def parquet_pages(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_pq"))
    generate_pages(spark, n_entities=50, seed=3).drop("entity_id").write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_filter_and_projection_pushed_to_scan(spark, parquet_pages):
    df = (
        spark.read.parquet(parquet_pages)
        .where(F.col("lang") == "en")
        .select("url", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # column pruning: html/text must NOT be read for a url/lang projection
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "html" not in read_schema and "text" not in read_schema


def test_candidate_join_is_not_nested_loop(spark, parquet_pages):
    keyed = blocking.add_blocking_keys(spark.read.parquet(parquet_pages))
    pairs = candidates.candidate_pairs(keyed)
    plan = _plan(pairs)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # pairs come from a hash-partitioned grouping on the key: an exchange
    # on the tall table's key feeds the aggregate that collects each
    # block's ids
    assert re.search(r"Arguments: hashpartitioning\(bk#\d+L, \d+\)", plan)
    assert re.search(
        r"Keys \[1\]: \[bk#\d+L\]\nFunctions \[2\]: "
        r"\[count\(1\), collect_list\(rid#",
        plan,
    )


def test_rule_cascade_is_whole_stage_codegen(spark):
    feats = spark.createDataFrame(
        [("a", "b", 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 1, 0, 1, 0.1)],
        "id_a string, id_b string, host_score double, url_score double, "
        "title_score double, jaccard_score double, minhash_sim double, "
        "simhash_sim double, lang_match int, host_match int, "
        "title_both_present int, ml_prob double",
    )
    plan = _plan(classify.classify(feats))
    assert "codegen id" in plan  # whole-stage codegen spans present
    # the cascade must be pure expressions: no Python evaluation nodes
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CASE WHEN" in plan  # the cascade compiled to one expression tree


def test_feature_stage_uses_arrow_not_row_python(spark, parquet_pages):
    from aml_entity_resolution_assignment_spark.operators.features import pair_features

    keyed = blocking.add_blocking_keys(spark.read.parquet(parquet_pages))
    pairs = candidates.candidate_pairs(keyed)
    plan = _plan(pair_features(pairs, keyed))
    assert "ArrowEvalPython" in plan  # vectorized kernels
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs


def test_small_dim_join_broadcasts(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    q = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n"))
    )
    assert "BroadcastHashJoin" in _plan(q)


def test_keyed_stage_runs_each_text_kernel_once(spark, parquet_pages):
    """One ArrowEvalPython node evaluates every keyed-stage kernel, each
    exactly once per page: MinHash and SimHash each feed all their
    columns from one UDF call, which Catalyst must not inline once per
    struct field, and no UDF is chained inside another."""
    keyed = blocking.add_blocking_keys(spark.read.parquet(parquet_pages))
    keyed.write.format("noop").mode("overwrite").save()
    plan = keyed._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython [" in ln]
    assert len(nodes) == 1, plan
    udfs = re.findall(r"(\w+)\(", nodes[0].split("ArrowEvalPython [")[1].split("], [")[0])
    kernels = ["batch_extract_title", "minhash_keys", "simhash_keys", "batch_token_hashset"]
    assert {k: udfs.count(k) for k in kernels} == dict.fromkeys(kernels, 1), nodes[0]
    # the only nesting is the title fold over the extracted title
    assert len(udfs) == len(kernels) + 1 and udfs.count("batch_ascii_fold") == 1, nodes[0]


def test_self_join_sizes_aggregation_computed_once(spark, parquet_pages):
    # the key table is grouped once: the cold and the salted branch
    # (salt_cap=3 makes both non-empty) read one exchange on the key,
    # the second as a ReusedExchange; nothing is broadcast or
    # checkpointed
    keyed = blocking.add_blocking_keys(spark.read.parquet(parquet_pages))
    recs = keyed.select(F.col("bk_host").alias("k"), "url")
    pairs = candidates.self_join_pairs(recs, "k", id_col="url", salt_cap=3)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"^[\s:|+-]*Exchange hashpartitioning\(k#", final, re.M)) == 1
    assert len(re.findall(r"ReusedExchange .*hashpartitioning\(k#", final)) == 1
    assert "BroadcastExchange" not in final
    assert "Scan ExistingRDD" not in final


def test_resolve_plan_single_broadcast_and_shared_window_exchange(
    spark, parquet_pages
):
    """Round-4 resolve plan shape: (a) the melted-key candidate join is
    ONE BroadcastHashJoin on the key hash (not five per-key joins);
    (b) the conflict flags are window aggregates, so the plan has NO
    collect_set-bearing ObjectHashAggregate and no extra join back to
    the corpus for host_b; (c) the three id_a-clustered window specs
    share partitioning — at most one exchange introduced by the whole
    ranking tail (hashpartitioning on id_a appears once)."""
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        add_blocking_keys,
    )
    from aml_entity_resolution_assignment_spark.operators.resolve import resolve

    pages = spark.read.parquet(parquet_pages)
    corpus = add_blocking_keys(pages)
    queries = add_blocking_keys(pages.limit(8))
    plan = _plan(resolve(queries, corpus, already_keyed=True))

    assert "BroadcastNestedLoopJoin" not in plan
    # formatted explain lists each node twice (tree + detail section):
    # count the numbered detail nodes. 3 joins = melt join + 2 hydrations
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M))
    assert n_bhj <= 3, n_bhj
    assert "collect_set" not in plan  # conflict flags are window maxes
    # ranking tail: one exchange keyed on id_a only (the window specs on
    # (id_a) and (id_a, host_b) both accept hashpartitioning(id_a))
    ex = re.findall(r"^\(\d+\) Exchange\s*$|hashpartitioning\(id_a[^)]*\)", plan, re.M)
    n_ex = len([e for e in ex if e.startswith("hashpartitioning")])
    # tree + detail duplication again: <= 2 textual occurrences = 1 node
    assert n_ex <= 2, ex


def test_tpch_q3_pushdown_and_topk(spark):
    import __spark_entry__ as entry

    df = entry.q_tpch_shipping(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # both date predicates and the segment filter reach parquet scans
    assert plan.count("PushedFilters: [") >= 3
    seg = [s for s in plan.split("PushedFilters")[1:] if "c_mktsegment" in s[:200]]
    assert seg, "segment filter not pushed to the customer scan"
    # top-10 is a TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort [revenue" not in plan


def test_tpch_q5_broadcasts_fixed_dims(spark):
    import __spark_entry__ as entry

    df = entry.q_tpch_local_supplier(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # region and nation ride broadcast joins; no cartesian anywhere
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
