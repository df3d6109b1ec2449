"""Storage-layout test: the partitioned price layout must turn time
range predicates into partition pruning (the P5 → partition-pruning
mapping from SURVEY §4).

NB a bare `ts` filter does NOT prune (Spark derives nothing about
ts_year from it — PartitionFilters stays []); pruning requires the
explicit partition predicate that read_prices_range adds.
"""

import datetime as dt

from pyspark.sql import functions as F

from etl_portfolio_tracker_spark import schemas
from etl_portfolio_tracker_spark.io import read_prices_range, upsert_prices
from etl_portfolio_tracker_spark.plans import partition_filters


def _partition_filters(df):
    return " ".join(partition_filters(df))


def test_partitioned_prices_prune(spark, tmp_path):
    rows = [("A", dt.date(2023 + y, 6, 1 + d), 10.0 + d)
            for y in range(3) for d in range(5)]
    prices = spark.createDataFrame(rows, schema=schemas.PRICES)
    path = str(tmp_path / "prices")
    upsert_prices(spark, prices, path)

    scan = read_prices_range(spark, path, "2024-01-01", "2024-12-31")
    pf = _partition_filters(scan)
    assert "ts_year" in pf and pf.strip()          # pruning actually happens
    assert scan.count() == 5                       # only 2024 rows
    assert scan.agg(F.min("close")).collect()[0][0] == 10.0

    # control: a bare ts filter does not prune — documents the trap
    bare = spark.read.parquet(path).filter(F.col("ts") >= "2024-01-01")
    assert _partition_filters(bare).strip() == ""


def test_zorder_layout_buckets_are_compact_rectangles(spark, tmp_path):
    # after a zorder write, each file's min/max ranges in BOTH dimensions
    # must be narrow — the data-skipping property a 1-D sort lacks
    import glob
    from pyspark.sql import functions as F
    from etl_portfolio_tracker_spark.functions.zorder import zorder_layout
    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b"))
    out = str(tmp_path / "z")
    zorder_layout(df, "a", "b", n_files=16).drop("_z").write.parquet(out)
    files = glob.glob(f"{out}/part-*")
    assert len(files) >= 8
    # each file's bounding rectangle area << full domain area
    total_area = 64 * 64
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf) == 0:
            continue
        area = ((pdf["a"].max() - pdf["a"].min() + 1)
                * (pdf["b"].max() - pdf["b"].min() + 1))
        assert area <= total_area / 3   # compact in BOTH dims


def test_zvalue_quadrant_ordering(spark):
    # all z-values of the low-low quadrant sort before any of the
    # high-high quadrant — the property file-level min/max skipping
    # relies on after a zorder layout
    from pyspark.sql import functions as F
    from etl_portfolio_tracker_spark.functions.zorder import zvalue
    df = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8)], "a long, b long")
    pdf = df.select("a", "b", zvalue(F.col("a"), F.col("b")).alias("z")) \
            .toPandas()
    low = pdf[(pdf.a < 4) & (pdf.b < 4)]["z"]
    high = pdf[(pdf.a >= 4) & (pdf.b >= 4)]["z"]
    assert low.max() < high.min()
    # and z is injective on the grid
    assert pdf["z"].nunique() == len(pdf)
