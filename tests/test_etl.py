"""Unit tests for the reference ETL semantics (T1-T5, SURVEY.md §2.3)."""

from __future__ import annotations

import math

from harvard_artifacts_collection_data_engineering_analytics_app_spark.app import (
    ARTIFACT_SCHEMAS,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.etl import (
    artifacts as A,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.schemas import (
    RAW_ARTIFACT,
)


def _raw(spark, rows):
    return spark.createDataFrame(rows, RAW_ARTIFACT)


def _row(id, **kw):
    base = {f.name: None for f in RAW_ARTIFACT.fields}
    base["id"] = id
    base.update(kw)
    return base


def test_string_defaults_and_truncation(spark):
    raw = _raw(
        spark,
        [
            _row(1, title=None, culture="Byzantine", description="x" * 600),
            _row(2, title="t2", description=None),
        ],
    )
    out = {r["id"]: r for r in A.transform_metadata(raw).collect()}
    assert out[1]["title"] == ""  # T1: missing string -> ''
    assert out[1]["culture"] == "Byzantine"
    assert len(out[1]["description"]) == 500  # T2: truncation
    assert out[2]["description"] == ""  # None-safe


def test_count_defaults_and_nullable_years(spark):
    raw = _raw(spark, [_row(1, imagecount=None, rank=None, datebegin=None),
                       _row(2, imagecount=3, datebegin=1550)])
    out = {r["objectid"]: r for r in A.transform_media(raw).collect()}
    assert out[1]["imagecount"] == 0 and out[1]["rank"] == 0  # T1 count default
    assert out[1]["datebegin"] is None  # stays NULL
    assert out[2]["imagecount"] == 3 and out[2]["datebegin"] == 1550


def test_color_explode_cap_and_order(spark):
    colors = [
        {"spectrum": f"s{i}", "hue": f"h{i}", "color": f"c{i}",
         "percent": i / 10.0, "css3": f"x{i}"}
        for i in range(8)
    ]
    raw = _raw(spark, [_row(1, colors=colors), _row(2, colors=None)])
    rows = A.transform_colors(raw).collect()
    assert len(rows) == 5  # T3: cap at 5, artifact 2 (no colors) drops
    assert [r["hue"] for r in rows] == ["h0", "h1", "h2", "h3", "h4"]  # array order


def test_color_missing_fields_defaults(spark):
    raw = _raw(
        spark,
        [_row(1, colors=[{"spectrum": None, "hue": None, "color": None,
                          "percent": None, "css3": None}])],
    )
    r = A.transform_colors(raw).collect()[0]
    assert r["spectrum"] == "" and r["hue"] == "" and r["css3"] == ""
    assert r["percent"] == 0.0


def test_nan_inf_sanitation(spark):
    raw = _raw(
        spark,
        [
            _row(1, colors=[{"spectrum": "s", "hue": "h", "color": "c",
                             "percent": float("nan"), "css3": "x"}]),
            _row(2, colors=[{"spectrum": "s", "hue": "h", "color": "c",
                             "percent": float("inf"), "css3": "x"}]),
            _row(3, colors=[{"spectrum": "s", "hue": "h", "color": "c",
                             "percent": 0.5, "css3": "x"}]),
        ],
    )
    out = {r["objectid"]: r for r in
           A.sanitize_floats(A.transform_colors(raw)).collect()}
    assert out[1]["percent"] is None  # T4: NaN -> NULL
    assert out[2]["percent"] is None  # T4: inf -> NULL
    assert math.isclose(out[3]["percent"], 0.5)


def test_pk_dedup_within_and_across_batches(spark):
    raw = _raw(spark, [_row(1, title="a"), _row(1, title="b"), _row(2, title="c")])
    meta = A.transform_metadata(raw)
    deduped = A.dedup_primary_key(meta, "id")
    assert deduped.count() == 2  # T5 within batch

    existing = spark.createDataFrame([(2,)], "id long")
    cross = A.dedup_primary_key(meta, "id", existing=existing)
    assert {r["id"] for r in cross.collect()} == {1}  # T5 across batches


def test_transform_all_shapes(spark):
    raw = _raw(
        spark,
        [_row(1, title="t", imagecount=2,
              colors=[{"spectrum": "s", "hue": "h", "color": "c",
                       "percent": 0.1, "css3": "x"}])],
    )
    out = A.transform_all(raw)
    assert set(out) == {"artifactmetadata", "artifactmedia", "artifactcolors"}
    assert out["artifactmetadata"].count() == 1
    assert out["artifactmedia"].count() == 1
    assert out["artifactcolors"].count() == 1


def test_transform_all_matches_declared_schemas(spark):
    """The warehouse is read with ARTIFACT_*, so the transform must write
    exactly those column names and types, in order."""
    out = A.transform_all(_raw(spark, [_row(1)]))
    assert set(out) == set(ARTIFACT_SCHEMAS)
    for name, schema in ARTIFACT_SCHEMAS.items():
        got = [(f.name, f.dataType) for f in out[name].schema.fields]
        assert got == [(f.name, f.dataType) for f in schema.fields], name
