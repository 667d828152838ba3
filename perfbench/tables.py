"""Catalog input tables: a committed copy of the sf0.01 tables.

``data/sf0.01`` holds the deterministic sf0.01 tables the catalog's DuckDB
oracle gate runs on. The benchmark may read nothing outside its checkout,
and the gate's own copy of these tables lives outside the repository, so
the benchmark carries its own.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from dbm_nca_ph_etl_spark.sources.catalog import TABLES

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def table_path(name: str) -> str:
    return os.path.join(BASE, f"{name}.parquet")


def stats() -> dict[str, dict[str, int]]:
    """Rows and on-disk bytes of every table."""
    return {
        t: {"rows": pq.read_metadata(table_path(t)).num_rows,
            "bytes": os.path.getsize(table_path(t))}
        for t in TABLES
    }
