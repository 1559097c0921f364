"""Order-insensitive result comparison between Spark and DuckDB.

Rows are put in the canonical form of ``tests/oracle_check.py`` (columns
sorted by name, floats by the repr of their IEEE double, so they must match
bit for bit, rows sorted), and the two sides are hashed.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

#: Changes whenever the digest's form changes, so memoized digests of an
#: older form are not reused.
DIGEST_FORM = "canon_rows/sha256/1"


def digest(df: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, hash of the canonical rows)."""
    # imported here so that a directory without the repository's sources
    # fails at the engine check in run.py, with its message
    from tests.oracle_check import canon_rows

    rows = canon_rows(df)
    h = hashlib.sha256("\x1e".join("\x1f".join(r) for r in rows).encode()).hexdigest()
    return tuple(sorted(df.columns)), len(rows), h


def mismatch(s: tuple, d: tuple) -> str | None:
    """None when two digests agree, else a one-line description."""
    if tuple(s[0]) != tuple(d[0]):
        return f"columns {s[0]} != {d[0]}"
    if s[1] != d[1]:
        return f"rows {s[1]} != {d[1]}"
    if s[2] != d[2]:
        return "value hash differs"
    return None


class OracleCache:
    """DuckDB oracle digests, memoized on disk across runs. The key covers
    the SQL text, the DuckDB version and the bytes of every input table,
    so a cached digest is exactly what re-running the oracle would give."""

    def __init__(self, path: str, sf_dir: str, tables: list[str]):
        import duckdb

        self.path = path
        h = hashlib.sha256((DIGEST_FORM + duckdb.__version__).encode())
        for t in tables:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        self.data_key = h.hexdigest()
        self.con = None
        self.sf_dir, self.tables = sf_dir, tables
        try:
            with open(path) as f:
                self.entries = json.load(f)
        except (OSError, ValueError):
            self.entries = {}

    def digest(self, sql: str) -> tuple:
        key = hashlib.sha256((self.data_key + sql).encode()).hexdigest()
        if key not in self.entries:
            if self.con is None:
                import duckdb

                self.con = duckdb.connect()
                for t in self.tables:
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.entries[key] = list(digest(self.con.execute(sql).fetchdf()))
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.entries, f)
            os.replace(tmp, self.path)
        return tuple(self.entries[key])

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
