"""End-to-end ER pipeline with per-stage checkpointing + metrics.

Reference lifecycle (/root/reference/src/matching.py:681-715):
load -> candidates -> features -> classify -> cluster -> evaluate.
Here every stage materializes to a parquet table under `work_dir`
(Iceberg-style layout: one directory per stage + _MANIFEST_<stage>.json),
so a restarted run skips completed stages (north_rule: resumable
mid-stage). A metrics table records per-stage row counts and wall time
(analog of the reference's Prometheus counters, api.py:34-36, and
blocking health report, matching.py:21-76).

Beyond the jobs a stage's own build runs (CC rounds, EM fits), a stage
is ONE Spark action: its write. Every count the pipeline reports (stage
rows, blocking health, match-type counts, entity count) is an observed
metric of that write (`DataFrame.observe`), kept in the stage manifest
so a resumed stage reports it without touching the data.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking, candidates, classify, cluster, features
from ..sources import io
from ..operators.classify import MATCH_TYPES, RuleThresholds


@dataclass
class PipelineConfig:
    work_dir: str
    salt_cap: int = candidates.DEFAULT_SALT_CAP
    drop_cap: int = candidates.DEFAULT_DROP_CAP
    thresholds: RuleThresholds | None = None
    model_path: str | None = None  # spark.ml LogisticRegressionModel dir
    # optional phonetic blocking key (blocking.SOUNDEX_KEY): soundex of
    # the title's first two tokens joins the exact-key set end-to-end
    # (keyed stage column + candidate self-join key + key coverage)
    soundex_title_key: bool = False
    # 'cascade' (reference rule cascade, default) or 'fs' (unsupervised
    # Fellegi-Sunter EM over grouped agreement signals —
    # classify.classify_fs; same output schema, no labels/thresholds)
    classifier: str = "cascade"
    resume: bool = True

    def fingerprint(self) -> str:
        """Stable hash of every config field that changes stage OUTPUT
        (`resume` and `work_dir` affect only execution). Folded into
        each stage fingerprint so a rerun with different thresholds,
        caps, or model never silently reuses stale parquet."""
        import hashlib

        from ..functions import minhash as _mh

        payload = json.dumps(
            {
                # persisted blocking keys are family-versioned: a rerun
                # under a different token-hash family must never reuse a
                # keyed stage table written under the old one (ADVICE r3)
                "key_family": _mh.KEY_FAMILY,
                "salt_cap": self.salt_cap,
                "drop_cap": self.drop_cap,
                "soundex_title_key": self.soundex_title_key,
                "classifier": self.classifier,
                "thresholds": None
                if self.thresholds is None
                else sorted(vars(self.thresholds).items()),
                "model_path": self.model_path,
            },
            default=str,
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


class StageRunner:
    """Materialize-or-reuse executor: each stage writes parquet + a
    manifest (row count, observed metrics, schema, upstream
    fingerprint); on resume, a stage whose manifest matches its
    fingerprint is re-read instead of recomputed — per-stage lineage,
    per-stage counters.

    A built stage adds one Spark action to its build, the write: the
    row count and any caller `observe` aggregates are observed metrics
    of that write (no re-read count), and the read-back takes the built
    frame's schema (no inference job). `observed[stage]` holds them for
    the caller, whether the stage was built or resumed."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig, run_id: str):
        self.spark = spark
        self.cfg = cfg
        self.run_id = run_id
        self.metrics: list[dict] = []
        self.observed: dict[str, dict] = {}
        os.makedirs(cfg.work_dir, exist_ok=True)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.cfg.work_dir, f"_MANIFEST_{stage}.json")

    def run(
        self,
        stage: str,
        fingerprint: str,
        build: Callable[[], DataFrame],
        bloom_filter_cols: list[str] | None = None,
        observe: Sequence[Column] = (),
    ) -> DataFrame:
        mpath = self._manifest_path(stage)
        if self.cfg.resume and os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
            # a manifest without observed counts predates them: rebuild
            # rather than report the stage with counts missing
            if manifest.get("fingerprint") == fingerprint and "observed" in manifest:
                self.observed[stage] = manifest["observed"]
                self.metric(stage, "resumed", 1.0)
                return io.read_table(self.spark, self.cfg.work_dir, f"stage={stage}")
        t0 = time.monotonic()
        df = build()
        observed = self._write_observed(
            df, stage, bloom_filter_cols,
            [F.count(F.lit(1)).alias("rows"), *observe],
        )
        n = observed["rows"]
        wall = time.monotonic() - t0
        with open(mpath, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "fingerprint": fingerprint,
                    "rows": n,
                    "observed": observed,
                    "wall_sec": wall,
                    "run_id": self.run_id,
                    "schema": df.schema.simpleString(),
                },
                f,
            )
        self.observed[stage] = observed
        self.metric(stage, "rows_out", float(n))
        self.metric(stage, "wall_sec", wall)
        return io.read_table(
            self.spark, self.cfg.work_dir, f"stage={stage}", schema=df.schema
        )

    def _write_observed(
        self,
        df: DataFrame,
        stage: str,
        bloom_filter_cols: list[str] | None,
        exprs: list[Column],
    ) -> dict:
        """Write `df` as the stage table; return `exprs` observed on the
        write.

        The write runs on a clone of the session. An `Observation` gives
        its session an ObservationManager, which Spark 4.1 keeps in a
        non-transient field, so the session can no longer be
        Java-serialized, and Spark ML models capture their session
        through their training summary when they transform (fitting and
        applying a LogisticRegression then fails). The clone takes that
        manager instead and drops its listener after the write, so the
        clone can be collected."""
        jclone = self.spark._jsparkSession.cloneSession()
        jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            jclone, df._jdf.queryExecution().analyzed()
        )
        clone = SparkSession(self.spark.sparkContext, jclone)
        obs = Observation()
        try:
            io.write_table(
                DataFrame(jdf, clone).observe(obs, *exprs),
                self.cfg.work_dir, f"stage={stage}",
                bloom_filter_cols=bloom_filter_cols,
            )
            return obs.get
        finally:
            jclone.listenerManager().clear()

    def metric(self, stage: str, name: str, value: float, detail: str = "") -> None:
        self.metrics.append(
            {
                "run_id": self.run_id,
                "stage": stage,
                "metric": name,
                "value": float(value),
                "detail": detail,
            }
        )

    def flush_metrics(self) -> None:
        if not self.metrics:
            return
        # from pandas through Arrow: no Python RDD, no Python workers
        df = self.spark.createDataFrame(
            pd.DataFrame(self.metrics),
            "run_id string, stage string, metric string, value double, detail string",
        )
        io.write_table(df, self.cfg.work_dir, "metrics", mode="append")
        self.metrics = []


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    run_id: str = "run0",
    input_fingerprint: str = "",
) -> dict[str, DataFrame]:
    """pages -> {keyed, pairs, features, classified, entity_map} with
    per-stage checkpoint/resume under cfg.work_dir.

    Stage fingerprints = input_fingerprint + config hash, so changing
    thresholds/caps/model (or pointing a different input at the same
    work_dir) invalidates every stage. Resume REQUIRES a non-empty
    input_fingerprint — with no way to tell inputs apart, reuse would
    be a silent-wrong-result hazard."""
    if cfg.resume and not input_fingerprint:
        raise ValueError(
            "resume=True requires a non-empty input_fingerprint: stage "
            "reuse cannot be validated without identifying the input "
            "(pass resume=False for a one-shot run)"
        )
    r = StageRunner(spark, cfg, run_id)
    fp = f"{input_fingerprint}|cfg={cfg.fingerprint()}"

    # bloom filter on url: the serving path's point lookups (resolve by
    # url against the checkpointed keyed table) skip row groups at the
    # parquet footer
    keyed = r.run(
        "pages_keyed", fp,
        lambda: blocking.add_blocking_keys(
            pages, soundex_title_key=cfg.soundex_title_key
        ),
        bloom_filter_cols=["url"],
    )

    exact_keys = blocking.BLOCKING_KEYS + (
        [blocking.SOUNDEX_KEY] if cfg.soundex_title_key else []
    )
    pairs = r.run(
        "candidate_pairs",
        fp + "|pairs",
        lambda: candidates.candidate_pairs(
            keyed, exact_keys=exact_keys,
            salt_cap=cfg.salt_cap, drop_cap=cfg.drop_cap,
        ),
    )

    # blocking health (E7) into metrics
    health = blocking.blocking_health(
        r.observed["pages_keyed"]["rows"], r.observed["candidate_pairs"]["rows"]
    )
    for k, v in health.items():
        r.metric("candidate_pairs", k, v)

    feats = r.run(
        "pair_features",
        fp + "|feats",
        lambda: features.pair_features(
            pairs.repartition(spark.sparkContext.defaultParallelism, "id_a"),
            keyed,
        ),
    )

    def _classify() -> DataFrame:
        if cfg.classifier == "fs":
            return classify.classify_fs(feats)
        if cfg.classifier != "cascade":
            raise ValueError(
                f"unknown classifier {cfg.classifier!r} "
                "(expected 'cascade' or 'fs')"
            )
        scored = feats
        if cfg.model_path:
            from ..ml.model import score_with_model

            scored = score_with_model(spark, feats, cfg.model_path)
        return classify.classify(scored, cfg.thresholds)

    classified = r.run(
        "classified_pairs", fp + "|cls", _classify,
        observe=[
            F.count_if(F.col("match_type") == t).alias(f"n_{t}")
            for t in MATCH_TYPES
        ],
    )

    # every component is labelled by its minimum member, itself a row:
    # one row per entity has url == predicted_entity_id
    entity_map = r.run(
        "entity_map",
        fp + "|cc",
        lambda: cluster.resolve_entities(classified, keyed),
        observe=[
            F.count_if(F.col("url") == F.col("predicted_entity_id")).alias(
                "n_entities"
            )
        ],
    )

    # C12 status counts (matching.py:565-568); a type no pair has gets
    # no row
    for t in MATCH_TYPES:
        n = r.observed["classified_pairs"][f"n_{t}"]
        if n > 0:
            r.metric("classified_pairs", f"n_{t}", float(n))
    r.metric("entity_map", "n_entities", float(r.observed["entity_map"]["n_entities"]))
    r.flush_metrics()

    return {
        "keyed": keyed,
        "pairs": pairs,
        "features": feats,
        "classified": classified,
        "entity_map": entity_map,
    }


def read_metrics(spark: SparkSession, work_dir: str) -> DataFrame:
    return io.read_table(spark, work_dir, "metrics")
