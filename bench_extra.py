"""Optimization-round profiling harness (guide §1): per-query isolation
with warm-up + best-of-N timing on the SAME action the frozen bench
uses (.count()), optional noop-sink timing (guide §1.4), job/stage
counts from the status tracker, and formatted-plan dumps into
plans/r06/<name>_<tag>.txt.

bench.py is FROZEN for measurement; this file exists so optimization
evidence (per-query isolation, plan shapes, job counts) never touches
it.  Usage:

    python bench_extra.py [--tag before|after] [--sf-dir DIR]
        [--samples N] [--noop] name [name ...]

Prints one line per query:
    name  best_s  [samples]  jobs=J stages=S tasks=T rows=N
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    argv = sys.argv[1:]

    def opt(flag, default=None, has_val=True):
        if flag in argv:
            i = argv.index(flag)
            if has_val:
                v = argv[i + 1]
                del argv[i : i + 2]
                return v
            del argv[i]
            return True
        return default

    sf_dir = opt("--sf-dir", SF_DIR)
    tag = opt("--tag")
    samples = int(opt("--samples", "3"))
    use_noop = bool(opt("--noop", False, has_val=False))
    names = argv

    from aml_entity_resolution_assignment_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench-extra", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    st = spark.sparkContext.statusTracker()

    results = {}
    for name in names:
        fn = qs[name]
        # plan dump (before any execution so AQE markers match bench state)
        if tag:
            os.makedirs("plans/r06", exist_ok=True)
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
            with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, sf_dir).count()  # untimed warm-up (bench methodology)
        best, ts, n = float("inf"), [], 0
        for i in range(samples):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            wall = time.monotonic() - t0
            ts.append(round(wall, 3))
            best = min(best, wall)
        # job count for ONE sample: re-run once and diff the tracker
        jid_before = set(st.getJobIdsForGroup(None) or [])
        spark.sparkContext.setJobDescription(f"{name}#jobcount")
        df = fn(spark, sf_dir)
        df.count()
        jid_after = set(st.getJobIdsForGroup(None) or [])
        njobs = len(jid_after - jid_before)
        results[name] = round(best, 3)
        print(
            f"{name}: best={best:.3f}s samples={ts} jobs={njobs} rows={n}",
            flush=True,
        )
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
