"""ETL job end-to-end (idempotent re-runs) + salted-agg equivalence."""

import datetime as dt

from pyspark.sql import functions as F

from etl_portfolio_tracker_spark import jobs, schemas
from etl_portfolio_tracker_spark.functions.skew import salted_sum


def _write_source(spark, path, rows, wide=False):
    if wide:
        df = spark.createDataFrame(rows, "ts string, AAPL double, MSFT double")
    else:
        df = spark.createDataFrame(
            [(t, dt.date(2025, 1, d), float(c)) for t, d, c in rows],
            schema=schemas.PRICES)
    df.coalesce(1).write.mode("overwrite").parquet(path)


def test_price_etl_idempotent(spark, tmp_path):
    src1 = str(tmp_path / "src1")
    tgt = str(tmp_path / "prices")
    _write_source(spark, src1, [("A", 1, 10.0), ("A", 2, 11.0), ("B", 1, 7.0)])
    r1 = jobs.run_price_etl(spark, src1, tgt)
    assert r1 == {"existing": 0, "after": 3, "inserted": 3}
    # re-run same source → no-op
    r2 = jobs.run_price_etl(spark, src1, tgt)
    assert r2["inserted"] == 0 and r2["after"] == 3
    # overlapping batch with one new key
    src2 = str(tmp_path / "src2")
    _write_source(spark, src2, [("A", 2, 99.0), ("B", 2, 8.0)])
    r3 = jobs.run_price_etl(spark, src2, tgt)
    assert r3["inserted"] == 1
    vals = {(r["ticker"], r["ts"].day): r["close"]
            for r in spark.read.parquet(tgt).collect()}
    assert vals[("A", 2)] == 11.0   # existing key untouched (OR IGNORE)
    assert vals[("B", 2)] == 8.0


def test_price_etl_wide_source(spark, tmp_path):
    src = str(tmp_path / "wide")
    _write_source(spark, src, [("2025-01-01", 195.5, 430.0),
                               ("2025-01-02", None, 431.0)], wide=True)
    tgt = str(tmp_path / "prices_w")
    r = jobs.run_price_etl(spark, src, tgt, wide=True)
    assert r["after"] == 3  # null AAPL day dropped
    out = spark.read.parquet(tgt)
    assert set(out.select("ticker").distinct().toPandas()["ticker"]) == {"AAPL", "MSFT"}


def _jobs_during(spark, action):
    import uuid
    sc = spark.sparkContext
    group = "etl-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_price_etl_appends_without_rewrite(spark, tmp_path):
    # a load appends only its new rows: the files of earlier loads stay
    # byte-for-byte, new files land only in the years the batch touches
    # and the counts come off the footers, not off Spark re-counts
    import glob
    import os

    def source(name, rows):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, schema=schemas.PRICES) \
            .coalesce(1).write.parquet(path)
        return path

    def stats():
        return {f: (os.stat(f).st_size, os.stat(f).st_mtime_ns)
                for f in glob.glob(f"{tgt}/**/*.parquet", recursive=True)}

    tgt = str(tmp_path / "prices")
    src1 = source("src1", [("A", dt.date(2024, 12, 30), 10.0),
                           ("A", dt.date(2025, 1, 2), 11.0),
                           ("B", dt.date(2024, 12, 30), 7.0)])
    src2 = source("src2", [("A", dt.date(2025, 1, 2), 99.0),
                           ("B", dt.date(2025, 1, 3), 8.0)])
    jobs.run_price_etl(spark, src1, tgt)
    first = stats()
    r2, n_jobs = _jobs_during(spark, lambda: jobs.run_price_etl(
        spark, src2, tgt))
    after = stats()
    assert r2 == {"existing": 3, "after": 4, "inserted": 1}
    assert {f: after.get(f) for f in first} == first
    new = set(after) - set(first)
    assert new and all(os.path.basename(os.path.dirname(f)) == "ts_year=2025"
                       for f in new)
    assert n_jobs <= 5, n_jobs


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # Bucketed-by-join-key tables must sort-merge join with no
    # Exchange on the key — the co-location contract at cluster scale.
    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from etl_portfolio_tracker_spark.plans import exchanges
        q = jobs.bucketed_join_demo(spark, sf, n_buckets=4)
        assert exchanges(q, "l_orderkey") == []
        assert exchanges(q, "o_orderkey") == []
        rows = {r["o_orderpriority"]: r["n"] for r in q.collect()}
        # cross-check counts against a plain parquet join
        from etl_portfolio_tracker_spark.io import read_table
        li = read_table(spark, sf, "lineitem")
        od = read_table(spark, sf, "orders")
        plain = {r["o_orderpriority"]: r["n"]
                 for r in li.join(od, li.l_orderkey == od.o_orderkey)
                            .groupBy("o_orderpriority")
                            .agg(F.count("*").alias("n")).collect()}
        assert rows == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_salted_sum_equals_plain(spark):
    rows = [(f"u{i % 3}", "T", float(i % 7) - 3) for i in range(500)]
    df = spark.createDataFrame(rows, "user string, ticker string, v double")
    plain = {(r["user"], r["ticker"]): r["s"]
             for r in df.groupBy("user", "ticker")
                        .agg(F.sum(F.col("v").cast("decimal(38,10)"))
                             .cast("double").alias("s")).collect()}
    salted = {(r["user"], r["ticker"]): r["s"]
              for r in salted_sum(df, ["user", "ticker"], F.col("v"), "s",
                                  n_salts=8).collect()}
    assert plain == salted


def test_run_curation_job_materializes_shared_state(spark, sf_dir,
                                                    tmp_path):
    from etl_portfolio_tracker_spark import jobs
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import dedup as DD
    out = str(tmp_path / "curation")
    counts = jobs.run_curation_job(spark, sf_dir, out)
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert counts["clusters"] == counts["verdict"] == n_docs
    assert counts["prune_report"] >= 2
    # report read from storage equals the standalone derivation
    stored = spark.read.parquet(f"{out}/reports/source_quality_report")
    live = DD.source_quality_report(docs)
    cols = sorted(stored.columns)
    as_rows = lambda df: sorted(  # noqa: E731
        tuple(str(r[c]) for c in cols) for r in df.collect())
    assert as_rows(stored) == as_rows(live)
