"""Expected answers for the page and kernel reads: each query's
``oracle_sql()`` twin run on DuckDB over the same parquet tables.

The DuckDB answers depend only on the SQL text and the vendored tables,
so they are cached on disk, keyed by a digest of both; the
``leakage_safe_split`` oracle alone takes about 12 s, and without the
cache every ``curation`` run would pay it.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
from decimal import Decimal

import numpy as np
import pandas as pd

TABLES = ("events", "lineitem", "part", "documents")


def normalize(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Column-name order and row order removed, cell types made
    comparable between Spark's pandas frames and DuckDB's tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return tuple(cols[i] for i in order), out


def frame_rows(pdf: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    return normalize(list(pdf.columns),
                     pdf.itertuples(index=False, name=None))


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # a nullable integer column arrives from pandas as float64
        if v.is_integer() and abs(v) < 2 ** 63:
            return int(v)
    return v


def same(got, want, rel: float = 1e-9) -> bool:
    """Equal row sets, with a relative tolerance on numbers."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc or len(gr) != len(wr):
        return False
    if gr == wr:
        return True
    for a_row, b_row in zip(gr, wr):
        for a, b in zip(a_row, b_row):
            if a == b:
                continue
            if (isinstance(a, (int, float)) and isinstance(b, (int, float))
                    and math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)):
                continue
            return False
    return True


class Oracle:
    """Lazily computed DuckDB answers for named queries."""

    def __init__(self, sf_dir: str, cache_dir: str, sql: dict[str, str]):
        self.sf_dir, self.cache_dir, self.sql = sf_dir, cache_dir, sql
        self._con = None
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        self._data_digest = h.hexdigest()

    def answer(self, name: str):
        key = _digest(self._data_digest, self.sql[name])
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = self._duckdb().execute(self.sql[name])
        ans = normalize([d[0] for d in res.description], res.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(ans, f)
        os.replace(tmp, path)
        return ans

    def _duckdb(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect(config={"threads": 4})
            for t in TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def _digest(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]
