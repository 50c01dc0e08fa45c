"""Snapshot differencing + change-rate recrawl scheduling.

Crawl corpora refresh: each crawl is a new snapshot of (url -> page),
and incremental pipelines need the CHANGE SET between snapshots —
re-process only what moved — and a revisit schedule driven by how
often each url changed. The validity-interval history of an attribute
(SCD type 2) is `operators/scd.scd2_intervals`.

The diff is a single full-outer-join plan on the key — the 100 TB
form: snapshots bucketed/partitioned by key co-locate the join; change
detection compares one md5 over the tracked columns (computed in the
scan projection, null-safe), never column-by-column row comparators.
No UDFs, no windows over the full table.

The reference repo rebuilds its SQLite tables from scratch each run;
this is the incremental-refresh machinery a 10^12-row corpus needs
instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "change_type"  # insert | update | delete


def _row_hash(cols: list[str]):
    """Null-safe content hash over the tracked columns: every value is
    cast to string with an out-of-band NULL marker and a unit
    separator, so (NULL, 'a') never collides with ('a', NULL)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
        for c in cols
    ]
    return F.md5(F.concat_ws("\x1f", *parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change set between two snapshots: one row per changed key with
    `change_type` in {insert, update, delete} and the NEW values for
    insert/update, OLD values for delete. Unchanged keys (equal
    content hash) are absent — the property that makes downstream
    incremental work O(changes), not O(corpus)."""
    oh = old.select(
        *key_cols,
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        _row_hash(compare_cols).alias("_oh"),
    )
    nh = new.select(
        *key_cols,
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        _row_hash(compare_cols).alias("_nh"),
    )
    j = oh.join(nh, key_cols, "full_outer")
    change = (
        F.when(F.col("_oh").isNull(), F.lit("insert"))
        .when(F.col("_nh").isNull(), F.lit("delete"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("update"))
    )
    out_vals = [
        F.when(F.col("_nh").isNotNull(), F.col(f"_n_{c}"))
        .otherwise(F.col(f"_o_{c}"))
        .alias(c)
        for c in compare_cols
    ]
    return (
        j.withColumn(CHANGE_COL, change)
        .where(F.col(CHANGE_COL).isNotNull())
        .select(*key_cols, *out_vals, CHANGE_COL)
    )


def recrawl_schedule(
    history: DataFrame,
    url_col: str = "url",
    ts_col: str = "version_ts",
    oversample: float = 2.0,
    min_days: float = 1.0,
    max_days: float = 365.0,
) -> DataFrame:
    """Change-rate-driven revisit scheduling — the feedback loop from
    crawl history back into the frontier (Cho & Garcia-Molina's
    uniform-revisit result: sample each page at a rate proportional to
    its observed change rate, bounded by politeness/staleness floors).

    ``history`` holds one row per OBSERVED VERSION of a url (e.g. the
    distinct ``valid_from`` rows of the SCD2 table built by
    ``scd2_apply``).  Per url: mean observed change gap = span /
    (n_versions - 1); the next interval is ``gap / oversample``
    clamped to [min_days, max_days]; never-changed urls (one version)
    go to ``max_days``.  Output: (url, n_versions, span_days,
    change_gap_days, interval_days, next_fetch_unix).

    Scale shape: ONE map-side-combined aggregation keyed on url
    (min/max/count partials) and a codegen'd projection — no window,
    no join; at 10^12 urls this is the same single-shuffle shape as
    any per-key rollup.
    """
    ts = F.col(ts_col).cast("long")
    agg = history.groupBy(F.col(url_col).alias("url")).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.min(ts).alias("_first"),
        F.max(ts).alias("_last"),
    )
    span_days = (F.col("_last") - F.col("_first")) / F.lit(86400.0)
    gap = span_days / (F.col("n_versions") - 1)
    interval = F.when(
        F.col("n_versions") > 1,
        F.greatest(
            F.lit(min_days),
            F.least(F.lit(max_days), gap / F.lit(oversample)),
        ),
    ).otherwise(F.lit(max_days))
    return agg.select(
        "url",
        "n_versions",
        F.round(span_days, 6).alias("span_days"),
        F.round(
            F.when(F.col("n_versions") > 1, gap), 6
        ).alias("change_gap_days"),
        F.round(interval, 6).alias("interval_days"),
        (
            F.col("_last")
            + F.floor(interval * F.lit(86400.0)).cast("long")
        ).alias("next_fetch_unix"),
    )
