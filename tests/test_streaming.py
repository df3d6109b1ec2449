"""Streaming-tier tests: file-source micro-batches driven end-to-end
with availableNow triggers + memory/parquet sinks."""

import datetime as dt
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from etl_portfolio_tracker_spark.streaming import ingest, stateful, windows


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_price_batch(spark, path, rows):
    df = spark.createDataFrame(
        [(t, dt.datetime(2025, 1, d, 12, 0, 0), float(c)) for t, d, c in rows],
        "ticker string, ts timestamp, close double")
    df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_dedup_idempotent_ingest(spark, tmpdir):
    src = f"{tmpdir}/src"
    tgt = f"{tmpdir}/tgt"
    chk = f"{tmpdir}/chk"
    # batch 1 incl. an in-batch duplicate key
    _write_price_batch(spark, src, [("A", 1, 10.0), ("A", 1, 10.5), ("B", 1, 7.0)])
    q = ingest.write_idempotent(
        ingest.dedup_stream(ingest.read_price_stream(spark, src)), tgt, chk)
    q.awaitTermination(120)
    # batch 2: replay of (A,1) plus a new day
    _write_price_batch(spark, src, [("A", 1, 99.0), ("A", 2, 11.0)])
    q2 = ingest.write_idempotent(
        ingest.dedup_stream(ingest.read_price_stream(spark, src)), tgt, chk)
    q2.awaitTermination(120)
    out = spark.read.parquet(tgt).groupBy("ticker", F.to_date("ts").alias("d")) \
        .count().collect()
    assert all(r["count"] == 1 for r in out)          # no duplicate keys survive
    assert len(out) == 3                              # (A,1), (B,1), (A,2)


def test_idempotent_ingest_fails_on_unreadable_target(spark, tmpdir):
    # only a missing target is a first batch: a target that exists but
    # cannot be read fails the query rather than taking an append
    import os
    from pyspark.errors import StreamingQueryException
    src, tgt, chk = f"{tmpdir}/src", f"{tmpdir}/tgt", f"{tmpdir}/chk"
    _write_price_batch(spark, src, [("A", 1, 10.0)])
    os.makedirs(tgt)
    with open(f"{tgt}/part-00000-corrupt.parquet", "wb") as f:
        f.write(b"not a parquet file")
    q = ingest.write_idempotent(
        ingest.dedup_stream(ingest.read_price_stream(spark, src)), tgt, chk)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert os.listdir(tgt) == ["part-00000-corrupt.parquet"]


def test_stream_sink_is_price_layout(spark, tmpdir):
    # the stream sink is the batch ETL's layout: a range read over it
    # prunes ts_year partitions and returns exactly its window's rows
    from etl_portfolio_tracker_spark import io
    from etl_portfolio_tracker_spark.plans import partition_filters
    src, tgt, chk = f"{tmpdir}/src", f"{tmpdir}/tgt", f"{tmpdir}/chk"
    rows = [("A", dt.datetime(2024, 12, 30, 12), 10.0),
            ("A", dt.datetime(2025, 1, 2, 12), 11.0),
            ("B", dt.datetime(2025, 1, 3, 12), 7.0)]
    spark.createDataFrame(
        rows, "ticker string, ts timestamp, close double"
    ).coalesce(1).write.parquet(src)
    q = ingest.write_idempotent(
        ingest.dedup_stream(ingest.read_price_stream(spark, src)), tgt, chk)
    q.awaitTermination(120)
    scan = io.read_prices_range(spark, tgt, "2025-01-01", "2025-12-31")
    assert any("ts_year" in f for f in partition_filters(scan))
    assert sorted(tuple(r) for r in scan.collect()) == rows[1:]


def test_streaming_tumbling_window(spark, tmpdir):
    src = f"{tmpdir}/ev"
    base = dt.datetime(2025, 1, 1, 10, 5, 0)
    df = spark.createDataFrame(
        [(1, base, 7, "click", 2.0, None),
         (2, base + dt.timedelta(minutes=30), 7, "click", 3.0, None),
         (3, base + dt.timedelta(hours=2), 7, "view", 5.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    df.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(df.schema).parquet(src))
    q = (windows.tumbling_counts(stream)
         .writeStream.format("memory").queryName("tumbling_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["win_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("select * from tumbling_test").collect()}
    assert rows[(10, "click")] == (2, 5.0)
    assert rows[(12, "view")] == (1, 5.0)


def test_streaming_stateful_fold_across_batches(spark, tmpdir):
    src = f"{tmpdir}/trades"
    schema = ("id long, user string, ticker string, ts timestamp, "
              "side string, qty double, price double, fee double")

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    out = f"{tmpdir}/state_out"

    def run(_name):
        # memory sink can't recover from a checkpoint → foreachBatch
        # parquet sink, latest row per key wins (stamped with batch id)
        stream = spark.readStream.schema(schema).parquet(src)

        def _sink(batch, bid):
            batch.withColumn("bid", F.lit(bid)) \
                 .write.mode("append").parquet(out)

        q = (stateful.streaming_portfolio_state(stream)
             .writeStream.foreachBatch(_sink)
             .outputMode("update")
             .option("checkpointLocation", f"{tmpdir}/chk_state")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        df = spark.read.parquet(out)
        return {(r["user"], r["ticker"]): r
                for r in df.groupBy("user", "ticker")
                           .agg(*[F.max_by(c, "bid").alias(c)
                                  for c in ("qty", "avg_cost", "realized", "n_rejected")])
                           .collect()}

    t0 = dt.datetime(2025, 1, 1)
    write_batch([(1, "u", "T", t0, "BUY", 10.0, 200.0, 0.0)])
    s1 = run("state_b1")
    assert s1[("u", "T")]["qty"] == 10.0 and s1[("u", "T")]["avg_cost"] == 200.0

    # batch 2 resumes saved state: oversell rejected, valid sell realizes
    write_batch([(2, "u", "T", t0 + dt.timedelta(days=1), "SELL", 15.0, 210.0, 0.0),
                 (3, "u", "T", t0 + dt.timedelta(days=2), "SELL", 5.0, 210.0, 0.0)])
    s2 = run("state_b2")
    r = s2[("u", "T")]
    assert r["qty"] == 5.0 and r["realized"] == 50.0 and r["n_rejected"] == 1


def test_transform_with_state_fold_across_batches(spark, tmpdir):
    # Spark 4 transformWithStateInPandas twin of the test above:
    # same fold semantics, RocksDB-backed typed state.
    # TWS's Python driver worker speaks protobuf to the JVM; the
    # container has no google.protobuf, so skip (not xfail: the
    # operator itself is exercised wherever protobuf exists).
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas requires protobuf for its "
               "state-server protocol; not installed in this container")
    src = f"{tmpdir}/trades_tws"
    out = f"{tmpdir}/tws_out"
    schema = ("id long, user string, ticker string, ts timestamp, "
              "side string, qty double, price double, fee double")

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        def run():
            stream = spark.readStream.schema(schema).parquet(src)

            def _sink(batch, bid):
                batch.withColumn("bid", F.lit(bid)) \
                     .write.mode("append").parquet(out)

            q = (stateful.streaming_portfolio_tws(stream)
                 .writeStream.foreachBatch(_sink)
                 .outputMode("update")
                 .option("checkpointLocation", f"{tmpdir}/chk_tws")
                 .trigger(availableNow=True).start())
            q.awaitTermination(180)
            df = spark.read.parquet(out)
            return {(r["user"], r["ticker"]): r
                    for r in df.groupBy("user", "ticker")
                               .agg(*[F.max_by(c, "bid").alias(c)
                                      for c in ("qty", "avg_cost",
                                                "realized", "n_rejected")])
                               .collect()}

        t0 = dt.datetime(2025, 1, 1)
        write_batch([(1, "u", "T", t0, "BUY", 10.0, 200.0, 0.0),
                     (2, "v", "T", t0, "BUY", 4.0, 50.0, 2.0)])
        s1 = run()
        assert s1[("u", "T")]["qty"] == 10.0
        assert s1[("u", "T")]["avg_cost"] == 200.0
        assert s1[("v", "T")]["avg_cost"] == pytest.approx(50.5)

        write_batch([(3, "u", "T", t0 + dt.timedelta(days=1), "SELL", 15.0, 210.0, 0.0),
                     (4, "u", "T", t0 + dt.timedelta(days=2), "SELL", 5.0, 210.0, 0.0)])
        s2 = run()
        r = s2[("u", "T")]
        assert r["qty"] == 5.0 and r["realized"] == 50.0 and r["n_rejected"] == 1
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_rate_tick_source_schema_and_batch(spark, tmpdir):
    from etl_portfolio_tracker_spark.sources import tick_stream
    s = tick_stream(spark, rows_per_second=50)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == ["ticker", "ts", "close"]
    # run one micro-batch into memory and check determinism of close
    q = (s.writeStream.format("memory").queryName("ticks")
         .outputMode("append")
         .option("checkpointLocation", f"{tmpdir}/chk_rate")
         .start())
    try:
        import time
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql("select * from ticks").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows, "rate source produced no rows in 30s"
    for r in rows:
        assert r["close"] >= 100.0 and r["ticker"]


def test_stream_stream_interval_join(spark, tmpdir):
    trades_src = f"{tmpdir}/trades"
    ticks_src = f"{tmpdir}/ticks"
    from etl_portfolio_tracker_spark.streaming import joins
    base = dt.datetime(2025, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [("A", base, 5.0), ("B", base, 2.0)],
        "ticker string, ts timestamp, qty double") \
        .coalesce(1).write.parquet(trades_src)
    spark.createDataFrame(
        [("A", base - dt.timedelta(minutes=30), 10.0),   # in window
         ("A", base - dt.timedelta(hours=3), 9.0),       # too old
         ("A", base + dt.timedelta(minutes=1), 11.0),    # after trade
         ("B", base, 7.0)],                              # exact hit
        "ticker string, ts timestamp, close double") \
        .coalesce(1).write.parquet(ticks_src)
    trades = spark.readStream.schema(
        "ticker string, ts timestamp, qty double").parquet(trades_src)
    ticks = spark.readStream.schema(
        "ticker string, ts timestamp, close double").parquet(ticks_src)
    q = (joins.enrich_trades_with_ticks(trades, ticks)
         .writeStream.format("memory").queryName("ss_join_test")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["ticker"], r["tick_close"])
            for r in spark.sql("SELECT * FROM ss_join_test").collect()}
    # only the in-window ticks survive: A@10.0 (30 min before), B@7.0
    assert rows == {("A", 10.0), ("B", 7.0)}


def test_stream_static_enrichment(spark, tmpdir):
    src = f"{tmpdir}/ticks2"
    from etl_portfolio_tracker_spark.streaming import joins
    base = dt.datetime(2025, 1, 2, 9, 0, 0)
    spark.createDataFrame(
        [("A", base, 10.0), ("C", base, 3.0)],
        "ticker string, ts timestamp, close double") \
        .coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(
        [("A", "Alpha Corp"), ("B", "Beta AB")], "ticker string, name string")
    stream = spark.readStream.schema(
        "ticker string, ts timestamp, close double").parquet(src)
    q = (joins.enrich_stream_with_dim(stream, dim)
         .writeStream.format("memory").queryName("ss_static_test")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["ticker"], r["name"])
            for r in spark.sql("SELECT * FROM ss_static_test").collect()}
    assert rows == {("A", "Alpha Corp"), ("C", None)}  # left join keeps C


def test_streaming_query_listener_records_progress(spark, tmpdir):
    src = f"{tmpdir}/lsrc"
    from etl_portfolio_tracker_spark.streaming import listeners
    spark.createDataFrame(
        [("A", dt.datetime(2025, 1, 3, 10, 0, 0), 5.0)],
        "ticker string, ts timestamp, close double") \
        .coalesce(1).write.parquet(src)
    lst = listeners.ProgressLog()
    spark.streams.addListener(lst)
    try:
        stream = spark.readStream.schema(
            "ticker string, ts timestamp, close double").parquet(src)
        q = (stream.writeStream.format("memory").queryName("listener_test")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        import time as _t
        for _ in range(60):
            if lst.batches:
                break
            _t.sleep(0.5)
    finally:
        spark.streams.removeListener(lst)
    assert lst.started, "start event not delivered"
    assert any(b["num_input_rows"] == 1 for b in lst.batches)


def test_streaming_dedup_jittered_timestamps(spark, tmpdir):
    src = f"{tmpdir}/src"
    tgt = f"{tmpdir}/tgt"
    chk = f"{tmpdir}/chk"
    # the same (A, day-1) price re-delivered 30 s apart (retry jitter):
    # exact-key dedup would keep both; identity dedup keeps the first
    rows = [("A", dt.datetime(2025, 1, 1, 12, 0, 0), 10.0),
            ("A", dt.datetime(2025, 1, 1, 12, 0, 30), 10.0),
            ("B", dt.datetime(2025, 1, 1, 12, 0, 0), 7.0)]
    spark.createDataFrame(
        rows, "ticker string, ts timestamp, close double"
    ).coalesce(1).write.mode("append").parquet(src)
    q = ingest.write_idempotent(
        ingest.dedup_stream_jittered(ingest.read_price_stream(spark, src)),
        tgt, chk)
    q.awaitTermination(120)
    out = spark.read.parquet(tgt).collect()
    assert len(out) == 2                              # one A row, one B row
    a = [r for r in out if r["ticker"] == "A"]
    assert len(a) == 1 and a[0]["ts"].second == 0     # first delivery wins


def test_dedup_within_watermark_drops_duplicate_keys(spark, tmpdir):
    # two rows share event_id 1 inside the watermark window -> one
    # survives; the distinct key passes through.
    src = f"{tmpdir}/evw"
    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    df = spark.createDataFrame(
        [(1, base, 7, "click", 2.0, None),
         (1, base + dt.timedelta(minutes=1), 7, "click", 2.0, None),
         (2, base + dt.timedelta(minutes=2), 7, "view", 5.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = (stream.withWatermark("ts", "1 hour")
           .dropDuplicatesWithinWatermark(["event_id"]))
    q = (out.writeStream.format("memory").queryName("ddww_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select event_id from ddww_test").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_join_replay_tolerance_alias():
    from etl_portfolio_tracker_spark.streaming.replay import (
        _parse_interval_seconds)
    assert _parse_interval_seconds("1 hour") == 3600
    assert _parse_interval_seconds("90 minutes") == 5400
    assert _parse_interval_seconds("2 days") == 172800
    assert _parse_interval_seconds("45 seconds") == 45
    # multi-term and fractional forms (Spark interval syntax parity)
    assert _parse_interval_seconds("1 hour 30 minutes") == 5400
    assert _parse_interval_seconds("1.5 hours") == 5400
    assert _parse_interval_seconds("2 minutes 30 seconds") == 150
    import pytest
    with pytest.raises(ValueError):
        _parse_interval_seconds("soon")
    with pytest.raises(ValueError):
        _parse_interval_seconds("1 hour 30")          # dangling term
    with pytest.raises(ValueError):
        _parse_interval_seconds("0.5 seconds")        # sub-second
    # exact-rational arithmetic: 8.2 minutes IS exactly 492 s even
    # though float('8.2')*60 is 491.99999999999994
    assert _parse_interval_seconds("8.2 minutes") == 492
    assert _parse_interval_seconds("4.1 minutes") == 246
    with pytest.raises(ValueError):
        _parse_interval_seconds("inf hours")          # non-finite
    with pytest.raises(ValueError):
        _parse_interval_seconds("-1 hours")           # negative


def test_streaming_delta_dedup_matches_batch_join(spark, sf_dir):
    from pyspark.sql import functions as F
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators.text import fingerprint
    from etl_portfolio_tracker_spark.streaming.replay import (
        streaming_delta_dedup_replay)
    got = {r["doc_id"]: r for r in
           streaming_delta_dedup_replay(spark, sf_dir).collect()}
    docs = read_table(spark, sf_dir, "documents")
    fp = fingerprint(docs).select("doc_id", "fingerprint")
    corpus = (fp.filter(F.col("doc_id") % 10 != 9)
              .groupBy("fingerprint")
              .agg(F.min("doc_id").alias("first_match")))
    want = {r["doc_id"]: r for r in
            (fp.filter(F.col("doc_id") % 10 == 9)
             .join(corpus, "fingerprint", "left")).collect()}
    assert set(got) == set(want) and len(got) > 0
    for k, w in want.items():
        g = got[k]
        assert g["first_match"] == w["first_match"]
        assert g["is_new"] == (w["first_match"] is None)


def test_docgen_streaming_source_matches_batch(spark, tmp_path):
    # Spark 4 custom streaming Python DataSource: the same
    # deterministic corpus arrives as micro-batches; once drained,
    # the sink must hold EXACTLY the batch reader's rows (every row
    # is a pure function of (seed, doc_id), so offsets/replay cannot
    # change content).
    import time
    import uuid
    from etl_portfolio_tracker_spark.sources.docgen import register
    register(spark)
    total = 120
    name = "docgen_stream_" + uuid.uuid4().hex[:8]
    q = (spark.readStream.format("docgen")
         .option("rows", total).option("rowsPerBatch", 50)
         .load()
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="0 seconds").start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= total:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = {r["doc_id"]: (r["text"], r["source"], r["n_chars"])
           for r in spark.table(name).collect()}
    want = {r["doc_id"]: (r["text"], r["source"], r["n_chars"])
            for r in (spark.read.format("docgen")
                      .option("rows", total).load().collect())}
    assert got == want and len(got) == total


def test_streaming_semantic_dedup_matches_batch_form(spark, sf_dir):
    # stream==batch: the availableNow replay must equal a plain batch
    # computation of delta-vs-corpus max cell cosine (corpus codebook,
    # same assignment + tie rule)
    from pyspark.sql import functions as F
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators.similarity import (
        SEMANTIC_DEDUP_TAU, _dot_sql, _norm_sql, semantic_cells)
    from etl_portfolio_tracker_spark.streaming.replay import (
        streaming_semantic_dedup_replay)

    from pyspark.sql import Window as W

    got = {r["vec_id"]: r for r in
           streaming_semantic_dedup_replay(spark, sf_dir).collect()}
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 9)
    c = semantic_cells(corpus.count())
    cents = (corpus.orderBy("vec_id").limit(c)
             .select(F.row_number().over(W.orderBy("vec_id")).alias("_rn"),
                     F.col("embedding").alias("_cvec"))
             .select((F.col("_rn") - 1).cast("int").alias("_cid"), "_cvec"))
    scored = (emb.crossJoin(F.broadcast(cents))
              .select("vec_id", "embedding", "_cid",
                      F.expr(_dot_sql("embedding", "_cvec")).alias("_dot")))
    w = W.partitionBy("vec_id").orderBy(F.desc("_dot"), F.asc("_cid"))
    cells = (scored.withColumn("_rn", F.row_number().over(w))
             .filter("_rn = 1")
             .select("vec_id", "embedding", F.col("_cid").alias("cell"),
                     F.expr(_norm_sql("embedding")).alias("_nrm")))
    d = cells.filter(F.col("vec_id") % 10 == 9).select(
        F.col("vec_id").alias("_dv"), F.col("cell").alias("_dc"),
        F.col("embedding").alias("_de"), F.col("_nrm").alias("_dn"))
    cv = cells.filter(F.col("vec_id") % 10 != 9).select(
        F.col("vec_id").alias("_cv"), F.col("cell").alias("_cc"),
        F.col("embedding").alias("_ce"), F.col("_nrm").alias("_cn"))
    cos = F.expr(_dot_sql("_de", "_ce")) / (F.col("_dn") * F.col("_cn"))
    want_mx = {r["_dv"]: r["mx"] for r in
               (d.join(cv, F.col("_dc") == F.col("_cc"))
                .groupBy("_dv").agg(F.max(cos.alias("c")).alias("mx"))
                ).collect()}
    want_cells = {r["vec_id"]: r["cell"] for r in
                  cells.filter(F.col("vec_id") % 10 == 9).collect()}
    assert set(got) == set(want_cells) and len(got) > 0
    for vid, g in got.items():
        assert g["cell"] == want_cells[vid]
        mx = want_mx.get(vid)
        if mx is None:
            assert g["max_corpus_cos"] is None and not g["is_dup"]
        else:
            assert g["max_corpus_cos"] == round(mx, 6) or \
                abs(g["max_corpus_cos"] - mx) < 1e-6
            assert g["is_dup"] == (mx >= SEMANTIC_DEDUP_TAU)


def test_concurrent_replays_keep_rows_and_restore_conf(spark, sf_dir):
    # a replay pins the shared session's shuffle-partition conf while
    # its query runs: two replays started from two threads run one at
    # a time, each returns its single-thread rows, and the caller's
    # value is back afterwards
    from concurrent.futures import ThreadPoolExecutor
    from etl_portfolio_tracker_spark.streaming import replay as RP
    runs = {"window": RP.streaming_window_replay,
            "join": RP.streaming_join_replay}

    def rows(fn):
        return sorted(map(tuple, fn(spark, sf_dir).collect()), key=repr)

    solo = {k: rows(fn) for k, fn in runs.items()}
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = {k: pool.submit(rows, fn) for k, fn in runs.items()}
            got = {k: f.result() for k, f in futs.items()}
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
    assert got == solo
