"""End-to-end app parity: collect → insert (idempotent) → query."""

from __future__ import annotations

from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
from harvard_artifacts_collection_data_engineering_analytics_app_spark.etl import (
    artifacts as A,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import (
    rest,
)


def test_collect_insert_query_roundtrip(spark, tmp_path):
    wd = str(tmp_path / "wd")
    raw = app.collect(spark, wd, rest.synthetic_fetcher(300), target_records=300)
    assert raw.count() == 300

    counts = app.insert(spark, wd)
    assert counts["artifactmetadata"] == 300
    assert counts["artifactmedia"] == 300
    assert counts["artifactcolors"] > 0

    # E3: every reference template runs on the built warehouse
    for name in ("q2", "q5", "q12", "q15", "q19", "q20"):
        df = app.query(spark, wd, name)
        assert df.count() >= 0


def test_insert_is_idempotent_like_insert_ignore(spark, tmp_path):
    """Re-inserting the same batch must not grow the PK tables
    (INSERT IGNORE semantics, harvard_artifacts_app.py:241)."""
    wd = str(tmp_path / "wd2")
    app.collect(spark, wd, rest.synthetic_fetcher(200), target_records=200)
    first = app.insert(spark, wd)
    second = app.insert(spark, wd)
    assert first == second


def test_second_batch_appends_to_every_table(spark, tmp_path):
    """A later batch of new artifacts is appended to all three tables
    (colors included), and a query after the insert reads the new files."""
    wd = str(tmp_path / "wd3")
    first_batch = rest.synthetic_fetcher(200)

    def shifted(page):
        return [{**rec, "id": rec["id"] + 10_000} for rec in first_batch(page)]

    app.collect(spark, wd, first_batch, target_records=200)
    first = app.insert(spark, wd)
    assert app.query(spark, wd, "q15").collect()[0][0] == first["artifactcolors"]

    raw = app.collect(spark, wd, shifted, target_records=200)
    second_colors = A.transform_colors(raw).count()
    second = app.insert(spark, wd)
    assert second["artifactmetadata"] == second["artifactmedia"] == 400
    assert second["artifactcolors"] == first["artifactcolors"] + second_colors

    colors = spark.read.parquet(f"{wd}/artifactcolors")
    assert colors.filter("objectid < 10000").count() == first["artifactcolors"]
    assert colors.filter("objectid >= 10000").count() == second_colors
    assert app.query(spark, wd, "q15").collect()[0][0] == second["artifactcolors"]


def test_query_launches_no_job_before_its_action(spark, tmp_path):
    """The warehouse is read with its declared schemas: building a
    template runs no Parquet schema-inference job."""
    wd = str(tmp_path / "wd4")
    app.collect(spark, wd, rest.synthetic_fetcher(50), target_records=50)
    app.insert(spark, wd)
    sc = spark.sparkContext
    group = "test-query-build"
    sc.setJobGroup(group, "app.query without an action")
    try:
        df = app.query(spark, wd, "q19")
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        df.collect()  # the group does capture the action's jobs
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_chart_spec_matches_reference_auto_bar(spark):
    """The reference auto-renders a bar chart of the first two result
    columns (harvard_artifacts_app.py:433-439); chart_spec is the headless
    twin: proportional bars, max bar = full width, non-numeric second
    column → empty (the reference's silent skip)."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.app import (
        chart_spec,
    )

    df = spark.createDataFrame(
        [("a", 10), ("b", 40), ("c", 20)], "label string, cnt long"
    )
    spec = chart_spec(df, width=40)
    assert [s["label"] for s in spec] == ["a", "b", "c"]
    assert [len(s["bar"]) for s in spec] == [10, 40, 20]

    not_numeric = spark.createDataFrame(
        [("a", "x")], "label string, other string"
    )
    assert chart_spec(not_numeric) == []
    one_col = spark.createDataFrame([("a",)], "label string")
    assert chart_spec(one_col) == []
