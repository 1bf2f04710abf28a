"""DuckDB oracle for the query workload, with an on-disk result cache.

A query's oracle result is a pure function of its SQL and the input
tables, so it is cached under a hash of both: a rerun on the same seed
skips DuckDB entirely. Rows are compared as the repository's oracle gate
compares them: same column names, same row count, and the same multiset
of rows after floats are printed to nine significant digits.
"""

from __future__ import annotations

import hashlib
import json
import os

from whakoom_webscrapper_spark.catalog import TESTDATA_TABLES


def norm_cell(v) -> str:
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> dict:
    """Columns sorted by name, each row's cells in that order, rows sorted:
    equal canonical forms mean equal column sets and row multisets."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "cols": [cols[i] for i in order],
        "rows": sorted([norm_cell(r[i]) for i in order] for r in rows),
    }


class Oracle:
    def __init__(self, tables_dir: str, fingerprint: str, cache_dir: str):
        self.tables_dir = tables_dir
        self.fingerprint = fingerprint
        self.cache_dir = cache_dir
        self._con = None

    def __enter__(self) -> "Oracle":
        return self

    def __exit__(self, *exc) -> None:
        if self._con is not None:
            self._con.close()

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TESTDATA_TABLES:
                path = os.path.join(self.tables_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(f"{self.fingerprint}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        res = self._connect().execute(sql)
        out = canonical([d[0] for d in res.description], res.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def matches(self, sql: str, cols: list[str], rows: list[tuple]) -> bool:
        return canonical(cols, rows) == self.expected(sql)
