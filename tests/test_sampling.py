"""Deterministic mixture sampling: content-hash Bernoulli selection,
oracle-checked against DuckDB's md5_number_lower in-test (the
registry is capacity-bound, so the SQL twin lives here)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import sampling as SA

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def test_hash_matches_duckdb_md5_number_lower(spark):
    df = spark.range(0, 200).select(
        F.col("id"), SA.hash_u64(F.col("id"), seed=17).alias("h")
    )
    got = {r["id"]: int(r["h"]) for r in df.collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            "select i, md5_number_lower(i || '|17')::UBIGINT"
            " from range(0, 200) t(i)"
        ).fetchall()
    )
    assert got == {k: int(v) for k, v in want.items()}


def test_mixture_sample_oracle_on_documents(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"web": 0.5, "wiki": 1.0, "forum": 0.25}
    got = {
        r["doc_id"]
        for r in SA.mixture_sample(
            docs, rates, default_rate=0.1, seed=7
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    full = 1 << 64
    case = " ".join(
        f"when source = '{s}' then {int(round(r * full))}"
        for s, r in rates.items()
    )
    want = {
        row[0]
        for row in con.execute(
            f"""
            select doc_id from documents
            where md5_number_lower(doc_id || '|7')::UBIGINT::HUGEINT <
                  (case {case} else {int(round(0.1 * full))} end)::HUGEINT
            """
        ).fetchall()
    }
    assert got == want
    assert 0 < len(got) < docs.count()


def test_rates_are_actually_respected(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    out = SA.mixture_sample(df, {"a": 0.3, "b": 0.9}, seed=3)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["a"] / 2000 - 0.3) < 0.05
    assert abs(counts["b"] / 2000 - 0.9) < 0.05
    # edge rates
    assert SA.sample_fraction(df, 0.0).count() == 0
    assert SA.sample_fraction(df, 1.0).count() == 4000


def test_determinism_and_partitioning_invariance(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {
        r["doc_id"]
        for r in SA.sample_fraction(docs, 0.4, seed=9).collect()
    }
    b = {
        r["doc_id"]
        for r in SA.sample_fraction(
            docs.repartition(13), 0.4, seed=9
        ).collect()
    }
    assert a == b
    c = {
        r["doc_id"]
        for r in SA.sample_fraction(docs, 0.4, seed=10).collect()
    }
    assert a != c  # seed actually matters


def test_mixture_repeat_epochs(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit("wiki").alias("source")
    )
    out = SA.mixture_repeat(df, {"wiki": 2.5}, seed=5)
    n = out.count()
    assert abs(n / 1000 - 2.5) < 0.15
    per = out.groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    assert {r["c"] for r in per} == {2, 3}
    eps = {
        r["epoch"]
        for r in out.where(F.col("doc_id") == per[0]["doc_id"]).collect()
    }
    assert eps == set(range(len(eps)))


def test_filter_is_codegen_no_udf_no_shuffle(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = SA.mixture_sample(docs, {"web": 0.5}, default_rate=0.2)
    jvm = spark._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)  # noqa: SLF001
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad
    # '*' prefix in formatted mode = inside a WholeStageCodegen span
    assert "* Filter" in plan


# ------------------------------------------------------- weighted / temp


def _u64_ref(v, seed=17):
    import hashlib

    hx = hashlib.md5(f"{v}|{seed}".encode()).hexdigest()
    return int("".join(hx[2 * i : 2 * i + 2] for i in range(15, 7, -1)), 16)


def test_weighted_sample_matches_reference(spark):
    import math

    from aml_entity_resolution_assignment_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, float(1 + i % 7)) for i in range(200)]
    rows += [(900, 0.0), (901, -2.0), (902, None)]  # never eligible
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        (r["doc_id"], r["skey"])
        for r in weighted_sample(df, 25, "w").collect()
    ]
    want = []
    for i, w in rows:
        if w is None or w <= 0:
            continue
        u = (_u64_ref(i) + 0.5) / 2.0**64
        want.append((i, math.log(u) / w))
    want.sort(key=lambda r: (-r[1], r[0]))
    want = [(i, round(k, 6)) for i, k in want[:25]]
    assert got == want
    # determinism across partitioning
    got8 = [
        (r["doc_id"], r["skey"])
        for r in weighted_sample(df.repartition(8), 25, "w").collect()
    ]
    assert got8 == got
    # heavier rows are sampled more often: empirical frequency ordering
    heavy = sum(1 for i, _ in got if i % 7 == 6)  # w = 7
    light = sum(1 for i, _ in got if i % 7 == 0)  # w = 1
    assert heavy > light


def test_jsonl_roundtrip(spark, tmp_path):
    from aml_entity_resolution_assignment_spark.sources.io import (
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "a\nb", 1.5, None), (2, 'quote"inside', None, "x")],
        "id long, t string, v double, s string",
    )
    p = str(tmp_path / "out.jsonl")
    write_jsonl(df, p)
    back = read_jsonl(spark, p, "id long, t string, v double, s string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # schema is explicit: extra fields in the file are simply pruned
    back2 = read_jsonl(spark, p, "id long, t string")
    assert back2.columns == ["id", "t"]


# ------------------------------------------------------- DSIR weights


def _dsir_ref(raw, target, B=64, a=1.0):
    """Plain-Python replay of the hashed-n-gram importance weight."""
    import hashlib
    import math

    def h64(g, seed="17"):
        d = hashlib.md5((g + "|" + seed).encode()).digest()
        return int.from_bytes(d[8:16], "little")

    def grams(text):
        toks = text.strip().lower().split()
        return toks + [
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        ]

    cp, cq = {}, {}
    for _, t in target:
        for g in grams(t):
            cp[h64(g) % B] = cp.get(h64(g) % B, 0) + 1
    for _, t in raw:
        for g in grams(t):
            cq[h64(g) % B] = cq.get(h64(g) % B, 0) + 1
    np_, nq_ = sum(cp.values()), sum(cq.values())
    out = {}
    for did, t in raw:
        gs = grams(t)
        w = sum(
            math.log(cp.get(h64(g) % B, 0) + a)
            - math.log(np_ + a * B)
            - math.log(cq.get(h64(g) % B, 0) + a)
            + math.log(nq_ + a * B)
            for g in gs
        )
        out[did] = (len(gs), w)
    return out


def test_dsir_weights_match_reference(spark):
    from aml_entity_resolution_assignment_spark.operators.sampling import (
        dsir_weights,
    )

    raw = [
        (1, "the cat sat on the mat"),
        (2, "zork blap vree qux nim"),
        (3, "the dog ran to the park"),
        (4, "cat mat the sat"),
    ]
    target = [(10, "the cat and the dog"), (11, "a cat sat near the mat")]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    want = _dsir_ref(raw, target)
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_weights(rdf, tdf, buckets=64).collect()
    }
    assert set(got) == set(want)
    for did, (n, w) in want.items():
        assert got[did][0] == n
        assert abs(got[did][1] - w) < 1e-9, did
    # target-overlapping prose outscores gibberish
    assert got[1][1] > got[2][1]


def test_dsir_weights_partitioning_invariant_and_empty_absent(spark):
    from aml_entity_resolution_assignment_spark.operators.sampling import (
        dsir_weights,
    )

    raw = [(i, f"tok{i % 7} tok{i % 5} shared words here") for i in range(24)]
    raw.append((99, "   "))  # no grams -> absent
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(
        [(0, "shared words here often")], "doc_id long, text string"
    )
    a = {
        (r["doc_id"], r["n_grams"], round(r["log_weight"], 9))
        for r in dsir_weights(rdf.repartition(1), tdf, buckets=32).collect()
    }
    b = {
        (r["doc_id"], r["n_grams"], round(r["log_weight"], 9))
        for r in dsir_weights(rdf.repartition(8), tdf, buckets=32).collect()
    }
    assert a == b and len(a) == 24
    assert 99 not in {t[0] for t in a}


# ---------------------------------------------------------- group cap


def test_group_cap_exact_quota_and_determinism(spark):
    import hashlib

    from aml_entity_resolution_assignment_spark.operators.sampling import (
        group_cap,
    )

    rows = [(f"d{i % 3}", i) for i in range(30)]
    df = spark.createDataFrame(rows, "dom string, pid long")

    def h(v, seed="31"):
        d = hashlib.md5((str(v) + "|" + seed).encode()).digest()
        return int.from_bytes(d[8:16], "little")

    want = set()
    for g in ("d0", "d1", "d2"):
        ids = sorted((i for d, i in rows if d == g), key=lambda i: (h(i), i))
        want |= {(g, i) for i in ids[:4]}
    a = {
        (r["dom"], r["pid"])
        for r in group_cap(df.repartition(1), "dom", "pid", 4).collect()
        if r["kept"]
    }
    b = {
        (r["dom"], r["pid"])
        for r in group_cap(df.repartition(8), "dom", "pid", 4).collect()
        if r["kept"]
    }
    assert a == b == want
    # nothing dropped, ranks are a permutation per group
    full = group_cap(df, "dom", "pid", 4).collect()
    assert len(full) == 30
    for g in ("d0", "d1", "d2"):
        assert sorted(r["rank"] for r in full if r["dom"] == g) == list(
            range(1, 11)
        )


def test_group_cap_small_group_and_zero_cap(spark):
    from aml_entity_resolution_assignment_spark.operators.sampling import (
        group_cap,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "dom string, pid long"
    )
    out = group_cap(df, "dom", "pid", 5).collect()
    assert all(r["kept"] for r in out)  # groups under the cap keep all
    out0 = group_cap(df, "dom", "pid", 0).collect()
    assert not any(r["kept"] for r in out0)
