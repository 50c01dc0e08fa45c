"""Driver-mimic correctness harness: run every queries() entry on Spark
and its DuckDB oracle twin, compare rows/schema/values after column-name
sort. Floats are rounded to 6 decimals BEFORE sorting/comparing so
formatting jitter can't produce spurious mismatches. A query that leaves
a cached plan in the session's CacheManager is a FAIL.

Usage: python tools/check_oracles.py [--sf-dir DIR] [name ...]"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from aml_entity_resolution_assignment_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df):
    """Round float columns, then sort rows by all columns — mirrors the
    driver's canonicalization so float jitter never flips row order."""
    import numpy as np

    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = np.round(df[c].astype("float64"), 6) + 0.0  # -0.0 -> 0.0
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def cache_is_empty(spark) -> bool:
    """True when the session's CacheManager holds no cached plan."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def main() -> int:
    global SF
    argv = sys.argv[1:]
    if "--sf-dir" in argv:
        i = argv.index("--sf-dir")
        SF = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')"
        )
    q, o = e.queries(), e.oracle_sql()
    names = argv or list(q)
    failed = []
    for name in names:
        try:
            sdf = q[name](spark, SF).toPandas().sort_index(axis=1)
            if not cache_is_empty(spark):
                # a query must leave no cached plan behind; clear it so
                # the next query starts from a clean session
                spark.catalog.clearCache()
                print(f"{name}: FAIL leaves cached plans in the CacheManager")
                failed.append(name)
                continue
            if name not in o:
                print(f"{name}: rows-only ({len(sdf)} rows)")
                continue
            odf = con.execute(o[name]).df().sort_index(axis=1)
            sdf = canon(sdf)
            odf = canon(odf)
            rows = sdf.shape[0] == odf.shape[0]
            schema = list(sdf.columns) == list(odf.columns)
            vals = (
                rows
                and schema
                and (sdf.astype(str).values == odf.astype(str).values).all()
            )
            status = "OK" if (rows and schema and vals) else "FAIL"
            print(f"{name}: {status} spark={sdf.shape} oracle={odf.shape}")
            if status == "FAIL":
                failed.append(name)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
            failed.append(name)
    print("failed:", failed or "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
