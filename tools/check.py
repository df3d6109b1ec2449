"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf, compares row count, column-name set, and an
order-insensitive value comparison (exact match after sorting columns
by name and rows by value, plus a float-tolerance fallback so we can
see whether a mismatch is cosmetic or real).

With --twice, each query also runs a second time in the same session
and the two results must be identical (a determinism gate; with the
session-memoized price tables the first run is cold, the second warm).

The connected-components (CC) consumers' oracles end in, or embed, a
recursive-CTE transitive closure (`DOC_CLOSURE_SQL`,
`VEC_CLOSURE_SQL`), whose state is quadratic in a component's size:
over sf0.1's 5000 documents DuckDB did not return within 45 min. For
those consumers the check runs the closure's edge SQL without the
recursive tail, labels the components with a union-find in Python,
and substitutes the labelled table for the closure query (the
`oracle_sql()` text itself is unchanged). With --prove-cc no Spark
query runs: each CC consumer's oracle runs both ways on DuckDB and
the two answers must be bit-identical.

Usage: python tools/check.py [--twice | --prove-cc] [sf_dir] [query ...]
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


# The recursive tails of the two CC oracles in oracle_sql(), verbatim:
# each follows an `edges(src, dst)` CTE and ends its query.
DOC_CLOSURE_SQL = """
            -- transitive closure: label set per node; cluster = min
            -- reachable doc_id (matches min-label propagation fixpoint)
            reach(node, label) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
            )
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach
            GROUP BY 1
        """
VEC_CLOSURE_SQL = """
            reach(node, label) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT e.dst, r.label
                FROM reach r JOIN edges e ON e.src = r.node
            )
            SELECT node AS vec_id, MIN(label) AS cluster_id
            FROM reach GROUP BY 1 ORDER BY 1
        """
# (the oracle that ends in the closure, its tail, node table, node id)
CC_CLOSURES = (("dedup_clusters", DOC_CLOSURE_SQL, "documents", "doc_id"),
               ("semantic_clusters", VEC_CLOSURE_SQL, "embeddings", "vec_id"))


def cc_labels(con, root_sql, closure, table, node):
    """Register `cc_<table>(node, cluster_id)`: the components of the
    closure's edge graph over every node of `table`, cluster_id the
    least node id in the component, as the closure computes it."""
    head, tail = root_sql[:-len(closure)], root_sql[-len(closure):]
    assert tail == closure and closure not in head, "closure text moved"
    edges = con.execute(head.rstrip().rstrip(",")
                        + "\nSELECT src, dst FROM edges WHERE src < dst"
                        ).fetchall()
    nodes = [r[0] for r in con.execute(f"SELECT {node} FROM {table}")
             .fetchall()]
    root = {v: v for v in nodes}

    def find(v):
        while root[v] != v:
            root[v] = root[root[v]]
            v = root[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)  # the root is the least id
    name = f"cc_{table}"
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT {node},"
                f" {node} AS cluster_id FROM {table} LIMIT 0")
    con.execute(f"INSERT INTO {name} SELECT unnest($1), unnest($2)",
                [nodes, [find(v) for v in nodes]])
    return f"SELECT {node}, cluster_id FROM {name}"


def cc_consumers(oracles):
    """{CC consumer: its CC_CLOSURES entry}: every oracle that embeds
    a closure oracle's text, the closure oracle included."""
    return {n: spec for spec in CC_CLOSURES
            for n, q in oracles.items() if oracles[spec[0]] in q}


def cc_oracle(con, oracles, cc, name, labelled):
    """CC consumer `name`'s oracle with the closure query replaced by
    the union-find labels, registered once per closure in `labelled`."""
    root, closure, table, node = cc[name]
    if root not in labelled:
        labelled[root] = cc_labels(con, oracles[root], closure, table,
                                   node)
    return oracles[name].replace(oracles[root], labelled[root])


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


def prove_cc(con, oracles, cc, names):
    """Run each CC consumer's oracle recursively and through the
    union-find labels; 0 when every pair is bit-identical."""
    def answer(sql):
        res = con.execute(sql)
        return bits([d[0] for d in res.description], res.fetchall())

    labelled: dict = {}
    n_fail = 0
    for name in names:
        t0 = time.time()
        want = answer(oracles[name])
        t1 = time.time()
        ok = answer(cc_oracle(con, oracles, cc, name, labelled)) == want
        n_fail += not ok
        print(f"{'SAME' if ok else 'DIFFERENT'} {name}: {len(want[1])} rows"
              f"  [recursive {t1 - t0:.1f}s, union-find"
              f" {time.time() - t1:.1f}s]")
    print(f"\n{len(names) - n_fail} same / {n_fail} different")
    return 1 if n_fail else 0


def main():
    args = sys.argv[1:]
    twice = "--twice" in args
    prove = "--prove-cc" in args
    args = [a for a in args if a not in ("--twice", "--prove-cc")]
    sf_dir = SF_DIR_DEFAULT
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = E.oracle_sql()
    cc = cc_consumers(oracles)
    labelled: dict = {}
    if prove:
        sys.exit(prove_cc(con, oracles, cc, args or list(cc)))

    from etl_portfolio_tracker_spark.session import get_spark

    spark = get_spark("check")
    # CHECK_TZ simulates a driver session in another timezone — all
    # queries must be timezone-independent (ntz-pure arithmetic).
    tz = os.environ.get("CHECK_TZ")
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)

    qs = E.queries()
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
            res = con.execute(
                cc_oracle(con, oracles, cc, name, labelled)
                if name in cc else oracles[name])
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
