"""spark-submit entry point for the full ER pipeline (north_rule
deployment form):

    python tools/package.py                     # build dist/<pkg>.zip
    spark-submit --master <cluster> \\
        --py-files dist/aml_entity_resolution_assignment_spark.zip \\
        jobs/run_er_pipeline.py \\
        --input /path/to/pages_parquet --work-dir /path/to/work \\
        [--resume] [--salt-cap N] [--drop-cap N]

The script imports the engine ONLY through the shipped zip (no repo
checkout on the executors), builds the session via spark-submit's conf
(master/memory/shuffle settings come from the submit command, not the
code), runs blocking -> salted candidates -> Arrow scoring -> rule
cascade -> iterative CC with per-stage checkpoint/resume, and prints
one JSON line of run metrics. `--synthetic N` generates the
deterministic synthetic corpus instead of reading parquet (smoke mode;
also what the in-sandbox deployment test uses).
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--input-warc", help="directory of .warc/.warc.gz segment files (Common-Crawl layout)")
    ap.add_argument("--input-wet", help="directory of .wet/.wet.gz text-extract segments (no html: the title blocking key is null, host/path/band keys drive blocking)")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic entities instead of reading --input")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--salt-cap", type=int, default=None)
    ap.add_argument("--drop-cap", type=int, default=None)
    ap.add_argument("--model-path", default=None)
    args = ap.parse_args()

    # Session comes from spark-submit's conf; only app-level defaults
    # (AQE, skew join, Arrow, JVM case mappings) are applied on top, and
    # only where the submit conf does not set them. A builder option
    # would override the submit conf, so they are set on the session.
    from pyspark.sql import SparkSession

    from aml_entity_resolution_assignment_spark.plans.pipeline import (
        PipelineConfig, run_pipeline,
    )
    from aml_entity_resolution_assignment_spark.session import (
        CASE_MAPPINGS, missing_defaults,
    )

    spark = SparkSession.builder.appName("er-pipeline").getOrCreate()
    for k, v in missing_defaults(
        spark.sparkContext.getConf(),
        (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.execution.arrow.pyspark.enabled",
            CASE_MAPPINGS,
        ),
    ).items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from aml_entity_resolution_assignment_spark.sources.generator import (
            generate_pages,
        )

        pages = generate_pages(spark, n_entities=args.synthetic, seed=42).drop(
            "entity_id"
        )
        input_fp = f"synthetic:{args.synthetic}:42"
    elif args.input_warc:
        from aml_entity_resolution_assignment_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input_warc).select(
            "url", "warc_ts", "html", "text", "lang"
        )
        input_fp = f"warc:{args.input_warc}"
    elif args.input_wet:
        from pyspark.sql import functions as F

        from aml_entity_resolution_assignment_spark.sources.warc import read_wet

        pages = read_wet(spark, args.input_wet).select(
            "url",
            "warc_ts",
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
        input_fp = f"wet:{args.input_wet}"
    elif args.input:
        pages = spark.read.parquet(args.input)
        input_fp = f"parquet:{args.input}"
    else:
        raise SystemExit(
            "pass --input PATH, --input-warc DIR, --input-wet DIR or "
            "--synthetic N"
        )

    kw = {}
    if args.salt_cap is not None:
        kw["salt_cap"] = args.salt_cap
    if args.drop_cap is not None:
        kw["drop_cap"] = args.drop_cap
    cfg = PipelineConfig(
        work_dir=args.work_dir,
        resume=args.resume,
        model_path=args.model_path,
        **kw,
    )
    t0 = time.monotonic()
    run_pipeline(spark, pages, cfg, run_id=args.run_id, input_fingerprint=input_fp)
    wall = time.monotonic() - t0
    # the entity_map stage write observed both counts (built or resumed)
    with open(os.path.join(args.work_dir, "_MANIFEST_entity_map.json")) as f:
        manifest = json.load(f)
    n_pages = manifest["rows"]
    n_clusters = manifest["observed"]["n_entities"]
    print(
        json.dumps(
            {
                "pages": n_pages,
                "clusters": n_clusters,
                "wall_sec": round(wall, 2),
                "pages_per_sec": round(n_pages / wall, 1),
                "work_dir": args.work_dir,
                "resumed": args.resume,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
