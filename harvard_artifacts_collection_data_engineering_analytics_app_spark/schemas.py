"""Explicit schemas.

Artifact-domain schemas mirror the reference DDL
(``harvard_artifacts_app.py:37-101``) and the transform's null semantics
(``:157-208``): missing strings become ``''``, missing counts ``0``, while
``accessionyear``/``datebegin``/``dateend`` stay NULL (SURVEY.md §1.2).
The artifact warehouse is read with ``ARTIFACT_*`` (``app.read_table``), so
no warehouse read infers a schema; they are the only definition of its
column types. Parquet schema inference remains only in
``catalog.load_table``, where the physical timestamp type decides the cast.

Driver-table schemas mirror the parquet footers under ``/root/testdata``
(FIXTURES.md §B) and exist for validation + fixture generation in tests.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- artifact domain (reference DDL :53-97) --------------------------------

ARTIFACT_METADATA = StructType(
    [
        StructField("id", LongType(), nullable=False),  # PK (:56)
        StructField("title", StringType()),
        StructField("culture", StringType()),
        StructField("period", StringType()),
        StructField("century", StringType()),
        StructField("medium", StringType()),
        StructField("dimensions", StringType()),
        StructField("description", StringType()),  # truncated to 500 (:175)
        StructField("department", StringType()),
        StructField("classification", StringType()),
        StructField("accessionyear", IntegerType()),  # nullable (:178)
        StructField("accessionmethod", StringType()),
    ]
)

ARTIFACT_MEDIA = StructType(
    [
        StructField("objectid", LongType(), nullable=False),  # FK (:81)
        StructField("imagecount", IntegerType()),
        StructField("mediacount", IntegerType()),
        StructField("colorcount", IntegerType()),
        StructField("rank", IntegerType()),  # reserved word in SQL (:78)
        StructField("datebegin", IntegerType()),  # nullable (:190)
        StructField("dateend", IntegerType()),  # nullable (:191)
    ]
)

ARTIFACT_COLORS = StructType(
    [
        StructField("objectid", LongType(), nullable=False),  # FK (:95)
        StructField("spectrum", StringType()),
        StructField("hue", StringType()),
        StructField("color", StringType()),
        StructField("percent", DoubleType()),  # only float col (:93)
        StructField("css3", StringType()),
    ]
)

# Raw API record (pre-ETL, ``fetch_artifacts`` output shape :105-152).
COLOR_STRUCT = StructType(
    [
        StructField("spectrum", StringType()),
        StructField("hue", StringType()),
        StructField("color", StringType()),
        StructField("percent", DoubleType()),
        StructField("css3", StringType()),
    ]
)

RAW_ARTIFACT = StructType(
    [
        StructField("id", LongType(), nullable=False),
        StructField("title", StringType()),
        StructField("culture", StringType()),
        StructField("period", StringType()),
        StructField("century", StringType()),
        StructField("medium", StringType()),
        StructField("dimensions", StringType()),
        StructField("description", StringType()),
        StructField("department", StringType()),
        StructField("classification", StringType()),
        StructField("accessionyear", IntegerType()),
        StructField("accessionmethod", StringType()),
        StructField("imagecount", IntegerType()),
        StructField("mediacount", IntegerType()),
        StructField("colorcount", IntegerType()),
        StructField("rank", IntegerType()),
        StructField("datebegin", IntegerType()),
        StructField("dateend", IntegerType()),
        StructField("colors", ArrayType(COLOR_STRUCT)),
    ]
)

# --- driver tables (FIXTURES.md §B) ----------------------------------------

DRIVER_TABLES = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}
