"""The benchmark's workloads: batch ER and the ER query mix.

A workload builds its seeded inputs (`build`), then runs operations
one at a time (`op`): one `run_pipeline` call or one registered query.
Traced runs warm up first (`warm_up`). Checks of every operation's
output (`check`) run after the timed window. In traced runs, spans wrap
the calls into each engine layer and `op_layers` turns them into
per-layer numbers.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import candidates
from aml_entity_resolution_assignment_spark.operators.blocking import BLOCKING_KEYS
from aml_entity_resolution_assignment_spark.operators.evaluate import (
    evaluate_clusters,
    evaluate_labeled_pairs,
)
from aml_entity_resolution_assignment_spark.plans import pipeline
from aml_entity_resolution_assignment_spark.sources import io

import inputs
from spans import GroupStats, Tracer

PAGES_F1_GATE = 0.99  # labeled-pair F1 gate (BASELINE.json)


@dataclass
class Op:
    key: Any  # what the operation ran (pipeline run or query name)
    traced: bool
    wall_s: float = 0.0
    items: int = 0
    out: Any = None
    error: str = ""
    failed: bool = False
    info: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def release(spark) -> None:
    """Drop every cache an operation left behind."""
    candidates.release_persisted()
    spark.catalog.clearCache()


class Workload:
    name = ""
    min_ops = 1  # operations a run makes even past its deadline
    combine = "mean"  # how per-key layer medians merge: "mean" or "sum"

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def key(self, n: int) -> Any:
        return n

    def plan(self, i: int, trace: bool) -> tuple[Any, bool]:
        """(key, traced) of operation i. Traced runs make each key twice,
        traced first, so a run cut short still has its keys traced."""
        if trace:
            return self.key(i // 2), i % 2 == 0
        return self.key(i), False

    def op_layers(self, op: Op, spans, totals: dict[str, GroupStats]) -> dict:
        return {}


def _span(spans, op: Op, name: str):
    return next((s for s in spans if s.op == op.info["op"] and s.name == name), None)


# --------------------------------------------------------------------------
# batch_er
# --------------------------------------------------------------------------

STAGE_LAYER = {
    "pages_keyed": "blocking",
    "candidate_pairs": "candidates",
    "pair_features": "features",
    "classified_pairs": "classify",
    "entity_map": "cluster",
}
# task metrics reported for each stage's layer: metric -> GroupStats field
STAGE_STATS = {
    "blocking": {
        "task_cpu_s": "cpu_s",
        "python_run_s": "python_run_s",
        "python_bytes": "python_bytes",
        "gc_s": "gc_s",
    },
    "candidates": {
        "shuffle_bytes": "shuffle_write_bytes",
        "spill_bytes": "spill_bytes",
        "task_skew": "task_skew",
    },
    "features": {
        "shuffle_bytes": "shuffle_write_bytes",
        "python_run_s": "python_run_s",
        "python_bytes": "python_bytes",
        "task_skew": "task_skew",
    },
    "classify": {},
    "cluster": {"jobs": "jobs", "shuffle_bytes": "shuffle_write_bytes"},
}


class BatchER(Workload):
    """`run_pipeline` (resume off, fresh work dir) over generator pages,
    some of them moved onto a few hot hosts (`inputs.batch_pages`)."""

    name = "batch_er"
    N_ENTITIES = 400  # ~1,000 pages and ~100 single-page entities
    N_PAGES = 880
    N_HOT_HOSTS = 3
    HOT_BLOCK = 24  # pages per hot host
    # a cap below the hot block size sends hot blocks through the
    # salted self-join branch
    SALT_CAP = 16

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        # each StageRunner.run call materializes one stage: a span per
        # call splits run_pipeline by layer (only while tracing is on)
        orig = pipeline.StageRunner.run

        def traced_run(runner, stage, *a, **kw):
            with tracer.span(STAGE_LAYER.get(stage, stage)):
                return orig(runner, stage, *a, **kw)

        pipeline.StageRunner.run = traced_run

    def build(self) -> None:
        d = os.path.join(self.work, "input")
        pages = inputs.batch_pages(
            self.spark, self.seed, self.N_ENTITIES, self.N_PAGES, self.N_HOT_HOSTS,
            self.HOT_BLOCK,
        ).cache()
        self.pages_path = os.path.join(d, "pages")
        self.truth_path = os.path.join(d, "truth")
        pages.drop("entity_id").write.parquet(self.pages_path)
        pages.select("url", "entity_id").write.parquet(self.truth_path)
        pages.unpersist()
        self.n_pages = self.spark.read.parquet(self.pages_path).count()
        self.input_bytes = dir_bytes(self.pages_path)

    def key(self, n: int) -> Any:
        return "run"  # every run has the same input

    def warm_up(self) -> None:
        # a fiftieth of the pages runs every stage's code once
        pages = self.spark.read.parquet(self.pages_path)
        self._run(
            pages.where(F.pmod(F.xxhash64("url"), F.lit(50)) == 0),
            os.path.join(self.work, "warm"),
            "warm",
        )
        release(self.spark)

    def _run(self, pages, work_dir: str, run_id: str) -> None:
        cfg = pipeline.PipelineConfig(
            work_dir=work_dir, salt_cap=self.SALT_CAP, resume=False
        )
        with self.tracer.span("pipeline"):
            pipeline.run_pipeline(self.spark, pages, cfg, run_id=run_id)

    def op(self, op: Op) -> None:
        work_dir = os.path.join(self.work, "ops", f"op{op.info['op']}")
        t0 = time.monotonic()
        self._run(
            self.spark.read.parquet(self.pages_path), work_dir, f"op{op.info['op']}"
        )
        op.wall_s = time.monotonic() - t0
        op.items = self.n_pages
        op.out = work_dir
        release(self.spark)

    def check(self, ops: list[Op]) -> dict:
        spark = self.spark
        truth = spark.read.parquet(self.truth_path)
        urls = spark.read.parquet(self.pages_path).select("url")
        first_digest = None
        cluster_f1 = None
        for op in ops:
            if op.failed:
                continue
            em = io.read_table(spark, op.out, "stage=entity_map")
            cls = io.read_table(spark, op.out, "stage=classified_pairs")
            row = em.agg(
                F.count("*").alias("n"),
                F.countDistinct("url").alias("n_url"),
                F.bit_xor(F.xxhash64("url", "predicted_entity_id")).alias("digest"),
            ).collect()[0]
            n_known = em.join(urls, "url").count()
            assigned_once = row["n"] == row["n_url"] == n_known == self.n_pages
            labeled_f1 = evaluate_labeled_pairs(cls, truth).f1
            op.info["labeled_f1"] = labeled_f1
            if first_digest is None:
                first_digest = row["digest"]
                cluster_f1 = evaluate_clusters(
                    em.select("url", "predicted_entity_id"), truth
                )[0].f1
            same = row["digest"] == first_digest
            if not (assigned_once and labeled_f1 >= PAGES_F1_GATE and same):
                op.failed = True
                op.error = (
                    f"assigned_once={assigned_once} labeled_f1={labeled_f1:.4f} "
                    f"same_as_first={same}"
                )
        return {"quality": cluster_f1 or 0.0, "er_cluster_f1": cluster_f1}

    def op_layers(self, op: Op, spans, totals) -> dict:
        spark = self.spark
        out: dict[str, float] = {}
        stage_wall = 0.0
        for layer in STAGE_LAYER.values():
            s = _span(spans, op, layer)
            if s is None:
                continue
            g = totals[s.span_id]
            stage_wall += s.wall_s
            out[f"{layer}.wall_s"] = s.wall_s
            for metric, attr in STAGE_STATS[layer].items():
                out[f"{layer}.{metric}"] = getattr(g, attr)
        p = _span(spans, op, "pipeline")
        out["pipeline.jobs"] = totals[p.span_id].jobs
        out["pipeline.overhead_s"] = p.wall_s - stage_wall

        rows = {}
        for stage in STAGE_LAYER:
            with open(os.path.join(op.out, f"_MANIFEST_{stage}.json")) as f:
                rows[stage] = json.load(f)["rows"]
        counts = {
            r["metric"]: r["value"]
            for r in io.read_table(spark, op.out, "metrics")
            .where(F.col("stage") == "classified_pairs")
            .collect()
        }
        keyed = io.read_table(spark, op.out, "stage=pages_keyed")
        hot = 0
        for k in BLOCKING_KEYS:
            hot += (
                keyed.where(F.col(k).isNotNull())
                .groupBy(k)
                .count()
                .where(F.col("count") > self.SALT_CAP)
                .count()
            )
        matches = counts.get("n_match", 0.0)
        n_pairs = rows["candidate_pairs"]
        written = dir_bytes(op.out)
        out.update(
            {
                "blocking.rows_out": rows["pages_keyed"],
                "candidates.pairs_out": n_pairs,
                "candidates.hot_blocks": hot,
                "candidates.match_yield": matches / n_pairs if n_pairs else 0.0,
                "features.pairs_in": n_pairs,
                "classify.matches": matches,
                "classify.reviews": counts.get("n_review", 0.0),
                "cluster.edges_in": matches,
                "io.bytes_written": written,
                "io.write_amplification": written / self.input_bytes,
            }
        )
        return out


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

# registered query -> the engine layer that does its main work. A
# traced query's whole span counts toward that layer's wall time.
QUERY_LAYER = {
    "candidate_pairs": "candidates",
    "pair_features": "features",
    "rule_cascade": "classify",
    "connected_components": "cluster",
    "dedup_minhash": "blocking",
    "hac_single": "cluster",
    "cluster_sweep": "cluster",
}
# the mix, in the order it runs; eval_prf and resolve_best_match are
# timed as queries only
QUERIES = [
    "candidate_pairs",
    "pair_features",
    "rule_cascade",
    "connected_components",
    "eval_prf",
    "resolve_best_match",
    "dedup_minhash",
    "hac_single",
    "cluster_sweep",
]


class QueryMix(Workload):
    """Registered `__spark_entry__.queries()` entries over a seeded slice
    of the sf0.1 `documents` table (`inputs.write_documents`), one at a
    time in a fixed order."""

    name = "query_mix"
    min_ops = len(QUERIES)  # every query timed at least once
    combine = "sum"  # layer figures are per pass over the mix
    N_LOW = 500  # doc_id < 500, the rows dedup_minhash reads
    N_WINDOW = 500  # and a seeded run of ids above 1,000

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        self.oracle = __spark_entry__.oracle_sql()

    def build(self) -> None:
        self.sf_dir = os.path.join(self.work, "input")
        inputs.write_documents(self.sf_dir, self.seed, self.N_LOW, self.N_WINDOW)

    def key(self, n: int) -> Any:
        return QUERIES[n % len(QUERIES)]

    def warm_up(self) -> None:
        for name in QUERIES:
            self.registry[name](self.spark, self.sf_dir).toPandas()
            release(self.spark)

    def op(self, op: Op) -> None:
        t0 = time.monotonic()
        with self.tracer.span(f"query.{op.key}"):
            op.out = self.registry[op.key](self.spark, self.sf_dir).toPandas()
        op.wall_s = time.monotonic() - t0
        op.items = 1
        release(self.spark)

    def check(self, ops: list[Op]) -> dict:
        import duckdb

        from tools.check_oracles import canon

        con = duckdb.connect()
        con.execute(
            "create view documents as select * from read_parquet("
            f"'{self.sf_dir}/documents.parquet')"
        )
        want = {}
        for op in ops:
            if op.failed:
                continue
            if op.key not in want:
                want[op.key] = canon(con.execute(self.oracle[op.key]).df().sort_index(axis=1))
            got = canon(op.out.sort_index(axis=1))
            odf = want[op.key]
            same = (
                got.shape == odf.shape
                and list(got.columns) == list(odf.columns)
                and (got.astype(str).values == odf.astype(str).values).all()
            )
            op.out = None
            if not same:
                op.failed = True
                op.error = f"{op.key}: differs from its DuckDB oracle"
        con.close()
        ok = sum(not op.failed for op in ops)
        return {"quality": ok / len(ops)}

    def op_layers(self, op: Op, spans, totals) -> dict:
        s = _span(spans, op, f"query.{op.key}")
        g = totals[s.span_id]
        out = {f"query.{op.key}_s": s.wall_s, f"query.{op.key}_jobs": g.jobs}
        layer = QUERY_LAYER.get(op.key)
        if layer is not None:
            out[f"{layer}.wall_s"] = s.wall_s
        if layer == "cluster":
            out["cluster.jobs"] = g.jobs
            out["cluster.shuffle_bytes"] = g.shuffle_write_bytes
        return out


WORKLOADS = {w.name: w for w in (BatchER, QueryMix)}


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))
