"""Untimed output checks against DuckDB twins.

Frames are compared with the rule of the repository's oracle tests,
imported from ``tests/conftest.py`` so the two cannot drift apart: same
column set, same row count, then columns sorted by name, floats rounded
to 6, values stringified and rows sorted before an exact comparison.
"""

from __future__ import annotations

import hashlib
import importlib.util
from pathlib import Path
from types import SimpleNamespace

import duckdb
import pandas as pd


def _load_oracle_rule():
    # by path: ``import tests.conftest`` would find perfbench/tests first
    path = Path(__file__).resolve().parent.parent / "tests" / "conftest.py"
    spec = importlib.util.spec_from_file_location("perfbench_oracle_rule", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module._normalize, module.assert_matches_oracle


_normalize, assert_matches_oracle = _load_oracle_rule()

INPUT_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def input_conn(sf_dir: str | Path) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per input table."""
    con = duckdb.connect()
    for t in INPUT_TABLES:
        path = Path(sf_dir) / f"{t}.parquet"
        if path.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def table_ref(wh_dir: str | Path, table: str) -> str:
    """DuckDB expression reading one committed warehouse table."""
    return f"read_parquet('{Path(wh_dir) / table}/*.parquet')"


def mismatch(got: pd.DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """None when ``got`` matches the result of ``sql`` on ``con`` by the
    oracle tests' rule, else the first line of that rule's failure."""
    try:
        assert_matches_oracle(SimpleNamespace(toPandas=lambda: got), con, sql)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive content hash, for comparing repeated results."""
    norm = _normalize(df)
    h = hashlib.sha256("\x1f".join(norm.columns).encode())
    for row in norm.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def warehouse_oracles() -> dict[str, str]:
    """Oracle SQL over the input tables for each star-schema table."""
    from __spark_entry__ import _dim_indicator_sql, oracle_sql

    osql = oracle_sql()
    return {
        "DIM_Date": osql["dim_date"],
        "DIM_Order": osql["dim_order"],
        "DIM_Part": osql["dim_part"],
        "DIM_Indicator": _dim_indicator_sql(),
        "FACT_LineItem": osql["fact_lineitem"],
    }


def check_warehouse(
    con: duckdb.DuckDBPyConnection, wh_dir: str | Path
) -> dict[str, tuple[str | None, str]]:
    """Compare every committed table with its oracle twin.

    Returns ``{table: (mismatch reason or None, digest of the table)}``."""
    out = {}
    for table, sql in warehouse_oracles().items():
        got = con.execute(f"SELECT * FROM {table_ref(wh_dir, table)}").fetchdf()
        out[table] = (mismatch(got, con, sql), digest(got))
    return out
