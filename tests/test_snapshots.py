"""Snapshot diff + recrawl schedule (operators/snapshots.py)."""

from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators.snapshots import (
    snapshot_diff,
)

SCHEMA = "url string, text string, lang string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_snapshot_diff_classification(spark):
    old = _df(
        spark,
        [
            ("u1", "same", "en"),
            ("u2", "before", "en"),
            ("u3", "gone", "de"),
            ("u5", None, "en"),  # NULL content
        ],
    )
    new = _df(
        spark,
        [
            ("u1", "same", "en"),       # unchanged -> absent
            ("u2", "after", "en"),      # update
            ("u4", "fresh", "es"),      # insert
            ("u5", None, "en"),         # NULL == NULL -> unchanged
        ],
    )
    got = {
        r["url"]: (r["change_type"], r["text"])
        for r in snapshot_diff(old, new, ["url"], ["text", "lang"]).collect()
    }
    assert got == {
        "u2": ("update", "after"),
        "u3": ("delete", "gone"),
        "u4": ("insert", "fresh"),
    }


def test_snapshot_diff_null_vs_empty_and_shift(spark):
    # (NULL, 'a') must differ from ('a', NULL) and from ('', 'a')
    old = _df(spark, [("u", None, "a")])
    for text, lang in [("a", None), ("", "a")]:
        new = _df(spark, [("u", text, lang)])
        d = snapshot_diff(old, new, ["url"], ["text", "lang"]).collect()
        assert [r["change_type"] for r in d] == ["update"]


class TestRecrawlSchedule:
    def _hist(self, spark, rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            rows, "url string, unix long"
        ).select("url", F.timestamp_seconds("unix").alias("version_ts"))

    def test_gap_clamp_and_never_changed(self, spark):
        from aml_entity_resolution_assignment_spark.operators.snapshots import (
            recrawl_schedule,
        )

        day = 86400
        rows = (
            # u1: 3 versions, 10-day gaps -> gap 10d, interval 5d
            [("u1", 0), ("u1", 10 * day), ("u1", 20 * day)]
            # u2: 2 versions 12h apart -> gap 0.5d, min-clamped to 1d
            + [("u2", 0), ("u2", day // 2)]
            # u3: never changed -> max_days
            + [("u3", 0)]
        )
        out = {
            r["url"]: r.asDict()
            for r in recrawl_schedule(
                self._hist(spark, rows), oversample=2.0
            ).collect()
        }
        u1 = out["u1"]
        assert u1["n_versions"] == 3
        assert u1["span_days"] == 20.0 and u1["change_gap_days"] == 10.0
        assert u1["interval_days"] == 5.0
        assert u1["next_fetch_unix"] == 20 * day + 5 * day
        u2 = out["u2"]
        assert u2["interval_days"] == 1.0  # min clamp
        u3 = out["u3"]
        assert u3["n_versions"] == 1
        assert u3["change_gap_days"] is None
        assert u3["interval_days"] == 365.0
        assert u3["next_fetch_unix"] == 365 * day

    def test_single_shuffle_no_window(self, spark):
        from aml_entity_resolution_assignment_spark.operators.snapshots import (
            recrawl_schedule,
        )

        df = self._hist(spark, [("u", k * 1000) for k in range(10)])
        plan = (
            recrawl_schedule(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") <= 1, plan
        assert "Window" not in plan and "Join" not in plan
