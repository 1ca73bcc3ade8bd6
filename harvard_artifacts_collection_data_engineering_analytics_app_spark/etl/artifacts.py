"""Artifact-domain ETL: the reference's transform/load semantics, Spark-first.

Reproduces exactly the reference's tri-state null semantics
(``harvard_artifacts_app.py:157-208``, SURVEY.md §1.2):

- missing **strings** become ``''`` (T1, :167-177)
- missing **counts** become ``0`` (T1, :186-189)
- ``accessionyear``/``datebegin``/``dateend`` stay **NULL** (:178,190,191)
- description truncated to 500 chars (T2, :175)
- colors array exploded, **first 5 kept in array order** (T3, :197-206)
- NaN/±inf sanitized to NULL on load (T4, ``clean_rows`` :226-233)
- primary-key dedup à la INSERT IGNORE (T5, :241,255,267)

All pure Catalyst expressions — codegen applies, no Python row loops
(the reference iterates rows in Python, :228).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

METADATA_STRING_COLS = (
    "title",
    "culture",
    "period",
    "century",
    "medium",
    "dimensions",
    "department",
    "classification",
    "accessionmethod",
)
MEDIA_COUNT_COLS = ("imagecount", "mediacount", "colorcount", "rank")
COLOR_STRING_COLS = ("spectrum", "hue", "color", "css3")
MAX_COLORS_PER_ARTIFACT = 5  # harvard_artifacts_app.py:198
DESCRIPTION_MAX_CHARS = 500  # harvard_artifacts_app.py:175


def _str_default(c: str) -> F.Column:
    """T1: missing string → '' (reference .get(field, ''))."""
    return F.coalesce(F.col(c), F.lit("")).alias(c)


def _count_default(c: str) -> F.Column:
    """T1: missing count → 0 (reference .get(field, 0))."""
    return F.coalesce(F.col(c), F.lit(0)).cast("int").alias(c)


def transform_metadata(raw: DataFrame) -> DataFrame:
    """Raw API records → artifactmetadata rows (T1 + T2)."""
    return raw.select(
        F.col("id"),
        _str_default("title"),
        _str_default("culture"),
        _str_default("period"),
        _str_default("century"),
        _str_default("medium"),
        _str_default("dimensions"),
        # T2: None-safe truncation to 500 chars (:175)
        F.substring(F.coalesce(F.col("description"), F.lit("")), 1,
                    DESCRIPTION_MAX_CHARS).alias("description"),
        _str_default("department"),
        _str_default("classification"),
        F.col("accessionyear").cast("int"),  # stays NULL when missing (:178)
        _str_default("accessionmethod"),
    )


def transform_media(raw: DataFrame) -> DataFrame:
    """Raw API records → artifactmedia rows (T1)."""
    return raw.select(
        F.col("id").alias("objectid"),
        *[_count_default(c) for c in MEDIA_COUNT_COLS],
        F.col("datebegin").cast("int"),  # NULL-able (:190)
        F.col("dateend").cast("int"),  # NULL-able (:191)
    )


def transform_colors(raw: DataFrame) -> DataFrame:
    """Raw API records → artifactcolors rows (T3).

    ``posexplode`` (not ``explode``) so "first 5 in API array order" is the
    array position, not a sort; inner explode drops artifacts without the
    colors key, matching the reference's `if 'colors' in artifact` (:197).
    """
    exploded = raw.select(
        F.col("id").alias("objectid"),
        F.posexplode("colors").alias("pos", "c"),
    ).filter(F.col("pos") < MAX_COLORS_PER_ARTIFACT)
    return exploded.select(
        "objectid",
        *[
            F.coalesce(F.col(f"c.{c}"), F.lit("")).alias(c)
            for c in COLOR_STRING_COLS[:3]
        ],
        F.coalesce(F.col("c.percent"), F.lit(0.0)).cast("double").alias("percent"),
        F.coalesce(F.col("c.css3"), F.lit("")).alias("css3"),
    ).select("objectid", "spectrum", "hue", "color", "percent", "css3")


def sanitize_floats(df: DataFrame) -> DataFrame:
    """T4: NaN/±inf → NULL for every floating-point column (:226-233)."""
    out = df
    for field in df.schema.fields:
        if field.dataType.typeName() in ("double", "float"):
            c = F.col(field.name)
            out = out.withColumn(
                field.name,
                F.when(F.isnan(c) | (F.abs(c) == float("inf")), None).otherwise(c),
            )
    return out


def insert_ignore(df: DataFrame, key: str, existing: DataFrame) -> DataFrame:
    """T5 across batches: drop rows whose key is already in the target
    table, via a left-anti join (at scale: broadcast the key set when
    small, else shuffle-hash on the key — Spark/AQE picks)."""
    return df.join(existing.select(key), on=key, how="left_anti")


def dedup_primary_key(
    df: DataFrame, key: str, existing: DataFrame | None = None
) -> DataFrame:
    """T5: INSERT IGNORE semantics (:241,255,267).

    Within-batch: keep one row per key. Cross-batch: :func:`insert_ignore`.
    """
    out = df.dropDuplicates([key])
    return out if existing is None else insert_ignore(out, key, existing)


def transform_all(raw: DataFrame) -> dict[str, DataFrame]:
    """The full E2 pipeline (harvard_artifacts_app.py:401-402)."""
    return {
        "artifactmetadata": dedup_primary_key(
            sanitize_floats(transform_metadata(raw)), "id"
        ),
        "artifactmedia": dedup_primary_key(
            sanitize_floats(transform_media(raw)), "objectid"
        ),
        "artifactcolors": sanitize_floats(transform_colors(raw)),
    }
