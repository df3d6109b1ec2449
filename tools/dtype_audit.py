"""Audit Spark-vs-DuckDB OUTPUT dtypes for every oracle-paired query.

Why: the driver's value-hash is type-sensitive — r1's only three
hash-fails (`simhash`, `lsh_buckets`, `embedding_near_dup`) had
bit-identical values but DuckDB typed a bare integer SUM as HUGEINT
(int128) while Spark emitted BIGINT.  `tools/check.py` compares
*Python* values, so it can never catch this class.  This audit
compares the declared column types on both sides and flags any pair
outside the known-equivalent classes, so a type drift fails locally
before the driver sees it.

Cheap by construction: DuckDB runs `LIMIT 0` over the oracle; Spark
only analyzes the plan (`.schema` — no job runs).

Usage: python tools/dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR_DEFAULT = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# spark dtype -> acceptable DuckDB type names (upper-case)
EQUIV = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    # DuckDB TIMESTAMP is naive; Spark timestamp (session-UTC) and
    # timestamp_ntz both round-trip to the same comparison value —
    # r1 green rows (price_range_scan et al.) prove the class.
    "timestamp": {"TIMESTAMP"},
    "timestamp_ntz": {"TIMESTAMP"},
    "array<double>": {"DOUBLE[]"},
    "array<float>": {"FLOAT[]"},
    "array<bigint>": {"BIGINT[]"},
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR_DEFAULT

    import __spark_entry__ as E
    from etl_portfolio_tracker_spark.session import get_spark

    spark = get_spark("dtype_audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    n_flag = n_ok = 0
    for name, fn in qs.items():
        if name not in oracles:
            continue
        try:
            sdt = dict(fn(spark, sf_dir).dtypes)
        except Exception as ex:
            print(f"FLAG {name}: spark analysis error: {ex!r}"[:300])
            n_flag += 1
            continue
        try:
            rel = con.sql(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
            odt = dict(zip(rel.columns, (str(t).upper() for t in rel.types)))
        except Exception as ex:
            print(f"FLAG {name}: oracle error: {ex!r}"[:300])
            n_flag += 1
            continue
        bad = []
        for col, st in sdt.items():
            ot = odt.get(col)
            if ot is None:
                bad.append(f"{col}: missing in oracle")
            elif ot not in EQUIV.get(st, set()):
                bad.append(f"{col}: spark={st} duckdb={ot}")
        for col in odt:
            if col not in sdt:
                bad.append(f"{col}: missing in spark")
        if bad:
            print(f"FLAG {name}: {'; '.join(bad)}"[:400])
            n_flag += 1
        else:
            n_ok += 1
    print(f"\n{n_ok} ok / {n_flag} flagged")
    sys.exit(1 if n_flag else 0)


if __name__ == "__main__":
    main()
