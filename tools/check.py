"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf, compares row count, column-name set, and an
order-insensitive value comparison (exact match after sorting columns
by name and rows by value, plus a float-tolerance fallback so we can
see whether a mismatch is cosmetic or real).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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


def norm_rows(cols, rows):
    """Sort columns by name, then rows by stringified values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def approx_equal(a, b, rel=1e-6, abs_tol=1e-9):
    if isinstance(a, float) and isinstance(b, (float, int)):
        if isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_tol)
    return str(a) == str(b)


def main():
    args = sys.argv[1:]
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
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
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
