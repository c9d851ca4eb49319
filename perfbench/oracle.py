"""DuckDB oracles, computed once per dataset and cached on disk.

The cache key holds the dataset digest and the oracle SQL, so a changed
dataset or a changed oracle is recomputed. Cached multisets are written
with ``repr`` and read back with ``ast.literal_eval``: they hold only
strings, numbers, booleans, bytes, ``None`` and tuples.
"""

from __future__ import annotations

import ast
import hashlib
import os


def dataset_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, sf_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


class Oracles:
    """Expected (columns, multiset) per op for one dataset."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = os.path.join(cache_dir, dataset_digest(sf_dir))
        self._mem: dict[str, tuple[list[str], list[tuple]]] = {}
        self._con = None

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{key}.txt")

    def expected(self, name: str) -> tuple[list[str], list[tuple]]:
        if name in self._mem:
            return self._mem[name]
        from disco_spark.registry import ORACLES

        sql = ORACLES[name]
        path = self._path(name, sql)
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = ast.literal_eval(f.read())
        else:
            cols, rows = self._compute(sql)
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(repr((cols, rows)))
            os.replace(tmp, path)
        self._mem[name] = (cols, rows)
        return cols, rows

    def _compute(self, sql: str) -> tuple[list[str], list[tuple]]:
        from disco_spark.testing import duckdb_connect, rows_to_multiset

        if self._con is None:
            self._con = duckdb_connect(self.sf_dir)
        res = self._con.execute(sql)
        cols = [d[0] for d in res.description]
        return sorted(cols), rows_to_multiset(cols, res.fetchall())

    def check(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        """None when the rows match the oracle, else a short reason."""
        from disco_spark.testing import rows_to_multiset

        cols, want = self.expected(name)
        if sorted(columns) != cols:
            return f"columns {sorted(columns)} != {cols}"
        if len(rows) != len(want):
            return f"{len(rows)} rows != {len(want)}"
        if rows_to_multiset(list(columns), rows) != want:
            return "values differ"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
