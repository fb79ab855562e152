"""Untimed output checks: Spark results against DuckDB oracles.

The comparison is the repository's own parity gate (``tools/parity.py``,
default mode): row count, column names, and its order-insensitive value
hash. This module only holds the DuckDB connection over a run's
generated tables and the glue that applies the gate to one query.
"""

from __future__ import annotations

from tools.parity import table_hash

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class Oracle:
    """DuckDB over one generated table directory."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()


def check_query(df, oracle: Oracle, sql: str) -> str | None:
    """None when ``df`` (already built) matches the oracle; else why not."""
    got = table_hash(df.columns, [tuple(r) for r in df.collect()])
    res = oracle.con.sql(sql)
    cols = list(res.columns)
    want = table_hash(cols, res.fetchall())
    if sorted(df.columns) != sorted(cols):
        return f"columns {sorted(df.columns)} != oracle {sorted(cols)}"
    if got[0] == 0:
        return "empty result"
    if got != want:
        return f"rows/hash {got} != oracle {want}"
    return None
