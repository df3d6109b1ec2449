"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf, compares row count, column-name set, and an
order-insensitive value comparison (exact match after sorting columns
by name and rows by value, plus a float-tolerance fallback so we can
see whether a mismatch is cosmetic or real).

With --twice, each query also runs a second time in the same session
and the two results must be identical (a determinism gate; with the
session-memoized price tables the first run is cold, the second warm).

Usage: python tools/check.py [--twice] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# pyspark's applyInPandasWithState serializer pads every output flush
# with an untyped empty frame before its pd.concat
# (pyspark/sql/pandas/serializers.py), which pandas >= 2.1 answers with
# this FutureWarning once per flush, from every Python worker. Frames
# the state functions yield cannot avoid it; the workers, started by
# the JVM this process launches, inherit the filter from the
# environment.
os.environ["PYTHONWARNINGS"] = ",".join(filter(None, (
    os.environ.get("PYTHONWARNINGS"),
    "ignore:The behavior of DataFrame concatenation with empty or all-NA"
    " entries is deprecated:FutureWarning:pyspark.sql.pandas.serializers")))

import duckdb

SF_DIR_DEFAULT = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def sort_key(v):
    """Stringified cell for row sorting; `+ 0.0` maps -0.0 to 0.0 so
    cells equal under == sort together (DuckDB's ROUND can return
    -0.0 where Spark returns 0.0)."""
    return str(v + 0.0) if isinstance(v, float) else str(v)


def norm_rows(cols, rows):
    """Sort columns by name, then rows by stringified values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(sort_key(x) for x in t))
    return [cols[i] for i in order], out


def bits(cols, rows):
    """Columns and rows in canonical order with every cell as its repr:
    equal only when bit-identical, signed zeros included."""
    cols, rows = norm_rows(cols, rows)
    return cols, [tuple(map(repr, r)) for r in rows]


def approx_equal(a, b, rel=1e-6, abs_tol=1e-9):
    if isinstance(a, float) and isinstance(b, (float, int)):
        if isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_tol)
    return str(a) == str(b)


def main():
    args = sys.argv[1:]
    twice = "--twice" in args
    args = [a for a in args if a != "--twice"]
    sf_dir = SF_DIR_DEFAULT
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as E
    from etl_portfolio_tracker_spark.session import get_spark

    spark = get_spark("check")
    # CHECK_TZ simulates a driver session in another timezone — all
    # queries must be timezone-independent (ntz-pure arithmetic).
    import os
    tz = os.environ.get("CHECK_TZ")
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    names = args or list(qs)
    n_pass = n_fail = 0

    def run(name):
        sdf = qs[name](spark, sf_dir)
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    for name in names:
        t0 = time.time()
        try:
            scols, srows = run(name)
            if twice and bits(*run(name)) != bits(scols, srows):
                print(f"FAIL {name}: second run differs from the first")
                n_fail += 1
                continue
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex!r}"[:500])
            n_fail += 1
            continue
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex!r}"[:500])
            n_fail += 1
            continue

        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            _, ns = norm_rows(scols, srows)
            _, no = norm_rows(ocols, orows)
            exact = ns == no
            if not exact:
                bad = 0
                first = None
                for rs, ro in zip(ns, no):
                    for a, b in zip(rs, ro):
                        if not approx_equal(a, b):
                            bad += 1
                            if first is None:
                                first = (a, b)
                            break
                if bad:
                    problems.append(f"values differ in {bad}/{len(ns)} rows; first {first}")
                else:
                    problems.append("EXACT-HASH-RISK: values approx-equal but not exact "
                                    f"(first diff row: {next((s, o) for s, o in zip(ns, no) if s != o)})"[:400])
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}"[:500])
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows exact  [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
