"""Result checks against DuckDB, outside the timed window.

Rows are paired and compared with ``tests/oracle.py``'s rule: columns
matched by name, rows sorted by their rounded values, then every paired
value equal, floats within a 5e-13 relative tolerance.

Contract oracles are memoised on disk. The key is the SQL text plus the
size and mtime of every Parquet file the SQL reads: the files behind each
corpus view it names, and every path written inside the SQL itself.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import re

import duckdb

from tests.oracle import FLOAT_RTOL, _sorted_raw, _values_close

from parquet_near_storage_compute_spark.tables import TABLES, table_path


def mismatch(
    cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]
) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != {len(orows)} oracle rows"
    for i, (a, b) in enumerate(
        zip(_sorted_raw(rows, cols), _sorted_raw(orows, ocols))
    ):
        if not _values_close(a, b):
            return f"sorted row {i}: {a} != {b}"
    return None


def _files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return sorted(glob.glob(path)) or [path]


def _stat(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return (path, -1, -1)


class Oracle:
    """DuckDB over one corpus directory, with the on-disk result memo."""

    def __init__(self, sf_dir: str, memo_dir: str, temp_dir: str) -> None:
        self.sf_dir = sf_dir
        self.memo_dir = memo_dir
        os.makedirs(memo_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
            )

    def key(self, sql: str) -> str:
        paths = [
            table_path(self.sf_dir, t)
            for t in TABLES
            if re.search(rf"\b{t}\b", sql)
        ]
        paths += re.findall(r"'([^']*\.parquet[^']*)'", sql)
        stats = tuple(_stat(f) for p in paths for f in _files(p))
        return hashlib.sha256(repr((sql, stats)).encode()).hexdigest()

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        path = os.path.join(self.memo_dir, self.key(sql) + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        rel = self.con.execute(sql)
        out = ([d[0] for d in rel.description], rel.fetchall())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(out, fh)
        os.replace(tmp, path)
        return out

    def close(self) -> None:
        self.con.close()
