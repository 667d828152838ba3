"""Output checks, run outside the timed region.

Catalog queries are compared with their ``Query.oracle`` on DuckDB with the
comparison of ``tools/oracle_check.py`` itself (its ``canon`` and
``value_repr``): row count, column names sorted, then the multiset of rows
as value reprs, order-insensitive.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd

from dbm_nca_ph_etl_spark.sources.catalog import TABLES
from tables import table_path


def _oracle_check():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_GATE = _oracle_check()


def oracle_db(work: str):
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(t)}'")
    return con


def compare(spark_cols: list[str], spark_rows, con, oracle_sql: str) -> str | None:
    """None when the collected Spark rows equal the oracle's result, else
    what differs."""
    s = _GATE.canon(pd.DataFrame.from_records([tuple(r) for r in spark_rows],
                                              columns=spark_cols))
    o = _GATE.canon(con.execute(oracle_sql).fetchdf())
    if len(s) != len(o):
        return f"rowcount {len(s)} vs {len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    vs, vo = _GATE.value_repr(s), _GATE.value_repr(o)
    if vs != vo:
        diff = [(a, b) for a, b in zip(vs, vo) if a != b][:2]
        return f"values differ, first: {diff}"
    return None
