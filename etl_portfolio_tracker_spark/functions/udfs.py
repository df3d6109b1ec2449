"""UDF escape hatches (SURVEY §2.10).

The engine's policy is built-ins first: every hot-path expression in
operators/ is JVM-side. These Arrow-vectorized pandas UDFs exist as
the sanctioned escape hatch for logic Spark genuinely can't express —
and as parity fixtures proving the built-in paths match a Python
reference implementation (the U2 test in tests/test_misc_io.py).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import functions as F, types as T
from pyspark.sql.functions import pandas_udf


# NB: explicit type objects, not DDL strings — parsing "string" at
# decoration time requires an active SparkSession (import-order trap).
@pandas_udf(T.StringType())
def normalize_text_udf(s: pd.Series) -> pd.Series:
    """Vectorized twin of the built-in normalize chain
    (lower → trim → collapse whitespace; universe.py:17-22).
    Arrow-batched: ~10-100× a row-at-a-time Python UDF."""
    return s.str.lower().str.strip().map(lambda x: re.sub(r"\s+", " ", x)
                                         if x is not None else None)


def builtin_normalize(col):
    """The JVM-side normalize chain the UDF mirrors."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


@pandas_udf(T.DoubleType())
def wavg_cost_udaf(qty: pd.Series, price: pd.Series) -> float:
    """Custom UDAF (grouped-agg pandas UDF): volume-weighted average
    price per group — Σ qty·price / Σ qty. Used as
    ``df.groupBy(...).agg(wavg_cost_udaf("qty", "price"))``.

    Arrow ships each group's columns as ONE batch; the kernel is two
    vectorized reductions. The built-in twin
    (sum(qty*price)/sum(qty)) is the hot-path form — this exists as
    the sanctioned custom-aggregate surface (SURVEY §2.10 "grouped-agg
    for custom UDAFs") and as its parity fixture."""
    tq = float(qty.sum())
    return float((qty * price).sum()) / tq if tq else None


def ngram_udtf_class():
    """Python UDTF (Spark 4 `udtf`, SURVEY §2.10 extension tier):
    expands a text column into (pos, ngram) rows — the lateral-join
    form of shingling, for users who want a table function instead of
    explode(). Returned lazily as a class + schema pair so importing
    this module never requires an active session.

    Engine policy unchanged: the hot-path shingler is the JVM-side
    explode in operators/dedup.py — a UDTF crosses the Python boundary
    per row-batch and exists as surface parity, not as the scale path.
    """
    class NgramUDTF:
        def eval(self, text: str, n: int):
            if text is None:
                return
            toks = re.sub(r"\s+", " ", text.lower().strip()).split(" ")
            for i in range(max(len(toks) - n + 1, 0)):
                yield i, " ".join(toks[i:i + n])

    return NgramUDTF, "pos int, ngram string"
