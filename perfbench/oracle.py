"""Result checking against the DuckDB oracle.

Every engine result the benchmark fetches is compared with its
``oracle_sql()`` twin, run on DuckDB over the same parquet files. The
comparison is the order-insensitive rule of ``tools/check.py``: same
row count, same column-name set, and identical rows after sorting
columns by name and rows by their string form. Values that are only
approximately equal count as wrong, as they do there.

Oracle answers are cached on disk, keyed by the SQL text plus a digest
of the input files, so they are computed once per checkout. None of
this runs inside a timed window.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import pickle

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def data_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()


def norm_cell(v):
    """One canonical Python value per cell, whether it came from an
    Arrow ``toPandas()`` frame or a DuckDB ``fetchall()`` row."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return v
    if hasattr(v, "to_pydatetime"):
        if str(v) == "NaT":
            return None
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def frame_rows(pdf):
    """Rows of a pandas frame with pandas' missing-value markers
    (NaN in float columns, NaT) mapped back to None, as DuckDB and
    ``collect()`` report them."""
    import pandas as pd
    cols = list(pdf.columns)
    rows = []
    for rec in pdf.itertuples(index=False, name=None):
        rows.append(tuple(None if (not hasattr(x, "__len__")
                                   and pd.isna(x)) else x for x in rec))
    return cols, rows


class Oracle:
    def __init__(self, sf_dir: str, cache_dir: str):
        import duckdb
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{path}')")
        self.digest = data_digest(sf_dir)
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self._mem: dict[str, tuple] = {}

    def answer(self, sql: str):
        """(sorted column names, canonical rows) of ``sql``."""
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        hit = self._mem.get(key)
        if hit is not None:
            return hit
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                hit = pickle.load(f)
        else:
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            hit = canonical(cols, res.fetchall())
            tmp = path + f".{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(hit, f)
            os.replace(tmp, path)
        self._mem[key] = hit
        return hit


def compare(pdf, expected) -> str | None:
    """None when the frame matches ``expected`` (an ``Oracle.answer``),
    else a one-line description of the first difference."""
    ocols, orows = expected
    scols, srows = canonical(*frame_rows(pdf))
    if len(srows) != len(orows):
        return f"rowcount engine={len(srows)} oracle={len(orows)}"
    if scols != ocols:
        return f"columns engine={scols} oracle={ocols}"
    if srows != orows:
        bad = next(i for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
        return f"values differ, first at sorted row {bad}: " \
               f"{srows[bad]!r} vs {orows[bad]!r}"[:400]
    return None
