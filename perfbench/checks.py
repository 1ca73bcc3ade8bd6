"""Correctness checks, run outside the timed region.

Registry queries are compared against their DuckDB oracle
(``registry.oracle_sql``) and the reference templates against
``artifact_templates.duckdb_sql`` on the written warehouse, both with the
repository's own comparison (``tests/oracle_harness.compare``), used as is.
Templates whose LIMIT makes row identity engine-dependent
(``NONDETERMINISTIC_LIMIT``) are compared by row count only.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd
from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    artifact_templates as AT,
)
from tests.oracle_harness import compare, duckdb_connection


def fingerprint(data_dir: str) -> str:
    """Content hash of every file under ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _spill_to(con: duckdb.DuckDBPyConnection, work: str) -> None:
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")


def oracle_results(data_dir: str, oracles: dict[str, str], work: str) -> dict[str, pd.DataFrame]:
    con = duckdb_connection(data_dir)
    try:
        _spill_to(con, work)
        return {name: con.execute(sql).fetch_df() for name, sql in oracles.items()}
    finally:
        con.close()


def check_templates(got: dict[str, pd.DataFrame], workdir: str, work: str) -> dict[str, str]:
    """Each template's Spark output in ``got`` against DuckDB on the
    warehouse at ``workdir``; returns mismatches as name -> reason."""
    con = duckdb.connect()
    bad: dict[str, str] = {}
    try:
        _spill_to(con, work)
        for t in app.ARTIFACT_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{workdir}/{t}/*.parquet')")
        for name, out in got.items():
            want = con.execute(AT.duckdb_sql(name)).fetch_df()
            if name in AT.NONDETERMINISTIC_LIMIT:
                errs = [] if len(out) == len(want) else [f"rows {len(out)} vs {len(want)}"]
            else:
                errs = compare(out, want)
            if errs:
                bad[name] = "; ".join(errs)[:500]
    finally:
        con.close()
    return bad
