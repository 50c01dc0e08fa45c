"""Name the cold-run tax: the first-use cost of each building block the
engine's queries and pipeline stages are made of.

Starts one fresh session (`session.get_spark`, so the engine's
defaults apply), runs one tiny job so the JVM and the scheduler are up,
then runs each probe twice in a row on a new 2,000-row frame. A
probe's first run pays whatever that operation loads or compiles the
first time it is used in a JVM (classes, static tables, code
generation, Python workers); its second run does not. Prints one JSON
line: per probe, the first run's wall time, the second's and their
difference (`extra_s`).

Probes run in the order listed, and a cost shared by two probes (the
first Python worker start, say) is charged to the earlier one.
`baseline` (a trim-only projection) absorbs the first job over a frame
of this shape.

Usage: python tools/cold_probe.py
(cores from SPARK_GRAFT_CPUS, heap from SPARK_GRAFT_DRIVER_MEM, as for
every engine session)
"""
import itertools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import LongType  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from aml_entity_resolution_assignment_spark.session import (  # noqa: E402
    CASE_MAPPINGS,
    get_spark,
)

ROWS = 2000


def _frame(spark):
    i = F.col("id")
    return spark.range(ROWS).select(
        i,
        (i % 50).alias("k"),
        F.concat(
            F.lit(" HTTPS://Www.Example"), (i % 50).cast("string"),
            F.lit(".COM/Path/"), i.cast("string"), F.lit("?utm=1 "),
        ).alias("s"),
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


@F.pandas_udf(LongType())
def _str_len(s: pd.Series) -> pd.Series:
    return s.str.len()


def _probes(spark, out_dir):
    """(name, run) pairs; each run builds its query anew."""
    def frame():
        return _frame(spark)

    runs = itertools.count()

    def parquet():
        frame().write.parquet(os.path.join(out_dir, f"w{next(runs)}"))

    return [
        ("baseline", lambda: _noop(frame().select(F.trim("s")))),
        ("lower", lambda: _noop(frame().select(F.lower("s")))),
        ("regexp_replace", lambda: _noop(frame().select(F.regexp_replace("s", r"\d+", "#")))),
        ("try_parse_url", lambda: _noop(frame().select(F.try_parse_url(F.trim("s"), F.lit("HOST"))))),
        ("levenshtein", lambda: _noop(frame().select(F.levenshtein("s", F.reverse("s"))))),
        (
            "collect_list_generators",
            lambda: _noop(
                frame()
                .groupBy("k")
                .agg(F.sort_array(F.collect_list("id")).alias("ids"))
                .select("k", F.posexplode("ids"))
            ),
        ),
        (
            "window",
            lambda: _noop(
                frame().select(
                    "id", F.row_number().over(Window.partitionBy("k").orderBy("id"))
                )
            ),
        ),
        ("parquet_write", parquet),
        (
            "create_dataframe_pandas",
            lambda: _noop(
                spark.createDataFrame(
                    pd.DataFrame({"id": range(ROWS), "s": ["x"] * ROWS})
                )
            ),
        ),
        ("pandas_udf", lambda: _noop(frame().select(_str_len("s")))),
    ]


def _wall(run) -> float:
    t0 = time.perf_counter()
    run()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark("cold-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="cold_probe_")
    try:
        spark.range(1).count()
        probes = {}
        for name, run in _probes(spark, out_dir):
            first, second = _wall(run), _wall(run)
            probes[name] = {
                "first_s": round(first, 3),
                "second_s": round(second, 3),
                "extra_s": round(first - second, 3),
            }
        print(
            json.dumps(
                {
                    "master": spark.sparkContext.master,
                    "rows": ROWS,
                    CASE_MAPPINGS: spark.conf.get(CASE_MAPPINGS),
                    "probes": probes,
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
