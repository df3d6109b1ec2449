"""Deterministic batch-replay of the streaming stateful fold — the
bridge that makes §2.12 streaming semantics externally checkable.

`streaming_fold_replay` reads the harness events parquet AS A STREAM
(`readStream` + explicit schema), derives trades with the same
projection the batch path uses (derive.trades_projection), folds them
through `streaming_portfolio_state` (applyInPandasWithState — real
streaming state store, real Arrow state protocol), executes with
`trigger(availableNow=True)` into an in-memory sink, and returns the
sink as a DataFrame.

Determinism: the harness table is a single parquet file, so
availableNow executes exactly ONE micro-batch; within the batch the
fold sorts each key's trades by (ts, id) (streaming/stateful.py:47).
The result is therefore byte-identical to a sequential fold with
oversell REJECTION (not the batch fold's clamp — P10 semantics,
app/services/trades.py:51-54), which a recursive-CTE DuckDB oracle
reproduces exactly (oracle.STREAM_FOLD_SQL). With multiple input
files Spark may split micro-batches and `n_rejected` would count only
the final batch's rejections per key — single-file inputs only.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..derive import trades_projection
from .stateful import streaming_portfolio_state

# State partition count for the replay queries. Stateful operators
# ignore AQE, so every micro-batch pays per-partition state-store
# commit overhead regardless of data volume; at replay scale that
# overhead dominates (measured streaming_join_replay at sf0.1:
# 32 partitions 22.5 s, 16 → 20.9 s, 8 → 11.2 s, 4 → 12.2 s —
# same 143 754 rows). On a real cluster size this to state volume /
# executor count instead; the knob is env-overridable for that.
STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "8"))
# r10: the stream-stream interval join keeps TWO state stores per
# partition (both join sides), so its per-micro-batch commit fan-out
# is double every other replay's — a clean interleaved A/B (steal <
# 0.5 s samples) had 4 beating 8 in every pair (3.0-3.8 s vs
# 3.3-7.2 s at sf0.1) while the keyed-fold replays prefer 8
# (fold 7.1 vs 10.3, twr 6.4 vs 9.3). Same cluster sizing rule as
# STATE_PARTITIONS; env-overridable.
JOIN_STATE_PARTITIONS = int(os.environ.get(
    "SPARK_GRAFT_JOIN_STATE_PARTITIONS", "4"))


# Serializes the window in which _run_to_completion holds the shared
# session's shuffle-partition conf: two replays started from two
# threads would otherwise interleave their set/restore pairs, run one
# query at the other's state partition count and leave the session at
# a replay's value instead of the caller's.
_CONF_LOCK = threading.Lock()


_INTERVAL_UNIT_S = {"second": 1, "seconds": 1, "minute": 60,
                    "minutes": 60, "hour": 3600, "hours": 3600,
                    "day": 86400, "days": 86400}


def _parse_interval_seconds(s: str) -> int:
    """'1 hour' / '90 minutes' / '1 hour 30 minutes' / '1.5 hours' →
    whole seconds. Accepts the multi-term and fractional forms Spark's
    own interval syntax does (summed over '<n> <unit>' terms); rejects
    anything else, and rejects a non-whole-second total (Spark
    watermark delays are whole-second)."""
    from fractions import Fraction

    import re

    toks = s.strip().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"unsupported interval string: {s!r}")
    # exact rational arithmetic: '8.2 minutes' is exactly 492 s, but
    # float('8.2')*60 is 491.99999999999994 — a binary-float product
    # would spuriously reject whole-second fractional terms (and
    # 'inf hours' would escape as OverflowError at the int() below).
    # Each numeric token must be a plain non-negative decimal —
    # Fraction() alone also accepts '1/2', '5e1', and negative terms,
    # which are NOT part of the watermark-delay grammar this mirrors.
    total = Fraction(0)
    try:
        for i in range(0, len(toks), 2):
            if not re.fullmatch(r"\d+(\.\d+)?", toks[i]):
                raise ValueError
            total += (Fraction(toks[i])
                      * _INTERVAL_UNIT_S[toks[i + 1].lower()])
    except (ValueError, ZeroDivisionError, KeyError):
        raise ValueError(f"unsupported interval string: {s!r}") from None
    if total.denominator != 1 or total < 0:
        raise ValueError(f"interval is not a whole second: {s!r}")
    return int(total)


def _events_stream(spark: SparkSession, sf_dir: str):
    return (spark.readStream.schema(schemas.EVENTS_NTZ)
            # the harness table is a FILE, not a directory: stream the
            # parent dir restricted to it (readStream needs a basePath
            # directory)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir))


def _run_to_completion(writer, name: str, timeout_s: int,
                       state_partitions: int | None = None):
    """Start, await FULL termination, fail loudly on timeout — a
    timed-out availableNow query would otherwise silently hand back a
    PARTIAL memory sink (exactly the kind of flaky wrongness a
    correctness gate must never produce).

    The session's shuffle-partition conf is pinned to STATE_PARTITIONS
    for the duration of the query (a streaming query's state
    partitioning is fixed from the session conf at start time) and
    restored after — batch queries keep their own setting. The conf
    is shared by every thread of the session, so replays hold
    `_CONF_LOCK` from the set to the restore and run one at a time.
    The session is the writer's own: `SparkSession.getActiveSession()`
    is None in a thread that did not create the session."""
    spark = writer._spark
    with _CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions or STATE_PARTITIONS))
        try:
            # start() is async — micro-batch planning reads the conf
            # after it returns, so the restore must wait for
            # termination.
            q = writer.start()
            if not q.awaitTermination(timeout_s):
                q.stop()
                raise TimeoutError(f"streaming replay {name!r} did not "
                                   f"finish in {timeout_s}s")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def streaming_fold_replay(spark: SparkSession, sf_dir: str,
                          timeout_s: int = 300) -> DataFrame:
    """Run the stateful streaming fold over the events table via one
    availableNow micro-batch; returns (user, ticker, qty, avg_cost,
    realized, n_rejected) — one row per traded key."""
    name = "stream_fold_replay_" + uuid.uuid4().hex[:8]
    out = streaming_portfolio_state(
        trades_projection(_events_stream(spark, sf_dir)))
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("update").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_window_replay(spark: SparkSession, sf_dir: str,
                            timeout_s: int = 300) -> DataFrame:
    """Tumbling 1-hour windowed aggregation executed on the STREAMING
    engine (`window()` over an unbounded-in-principle source), replayed
    over the events table and emitted in COMPLETE mode — every window
    appears regardless of watermark progress, so a single availableNow
    pass yields the same rows as the batch hourly_rollup shape (same
    exact decimal sum, same rounding).  This is the streaming-windows
    twin of streaming_fold_replay: it exercises the streaming
    aggregation state store, not a batch re-expression."""
    from pyspark.sql import functions as F
    from ..derive import dsum
    name = "stream_window_replay_" + uuid.uuid4().hex[:8]
    ev = _events_stream(spark, sf_dir)
    agg = (ev.groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.round(dsum(F.col("value")), 2).cast("double")
                 .alias("sum_value")))
    out = agg.select(F.col("window.start").alias("hour"),
                     "event_type", "n_events", "sum_value")
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("complete").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


# Watermarks and stream-stream join conditions require TIMESTAMP
# (with local tz), but the harness `ts` is timestamp_ntz and every
# session-tz-dependent conversion (cast, to_utc_timestamp) would make
# results depend on the driver's timezone (and hit DST anomalies).
# Pin the naive components AS UTC instead — make_timestamp(..., 'UTC')
# is session-tz-independent (verified: identical unix_micros under UTC
# and America/New_York sessions) and UTC has no DST, so the mapping is
# a monotone bijection of the naive timeline.
_UTC_PIN = ("make_timestamp(year({c}), month({c}), day({c}), hour({c}), "
            "minute({c}), extract(SECOND FROM {c}), 'UTC')")


def streaming_dedup_replay(spark: SparkSession, sf_dir: str,
                           timeout_s: int = 300) -> DataFrame:
    """Watermarked streaming dropDuplicates on event_id, replayed over
    the events table (append mode — each first-seen key emits
    immediately; the watermark only bounds dedup state). event_ids
    are unique in the harness data, so the exact output is the full
    table — which is precisely what makes the oracle trivial while
    the state-store path stays fully exercised."""
    from pyspark.sql import functions as F
    name = "stream_dedup_replay_" + uuid.uuid4().hex[:8]
    ev = (_events_stream(spark, sf_dir)
          .withColumn("_wm", F.expr(_UTC_PIN.format(c="ts")))
          .withWatermark("_wm", "7 days")
          .dropDuplicates(["event_id"])
          .drop("_wm"))
    _run_to_completion(
        ev.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_dedup_within_replay(spark: SparkSession, sf_dir: str,
                                  timeout_s: int = 300) -> DataFrame:
    """dropDuplicatesWithinWatermark replay — the Spark 3.5+ stateful
    operator whose state EXPIRES by event time (keys older than the
    watermark are evicted instead of held forever, the production
    answer to unbounded dedup state). event_ids are unique in the
    harness data and availableNow runs ONE micro-batch, so the exact
    output is the full table — same oracle as streaming_dedup_replay
    while this exercises the within-watermark state path instead of
    the unbounded one."""
    from pyspark.sql import functions as F
    name = "stream_dedup_within_" + uuid.uuid4().hex[:8]
    ev = (_events_stream(spark, sf_dir)
          .withColumn("_wm", F.expr(_UTC_PIN.format(c="ts")))
          .withWatermark("_wm", "7 days")
          .dropDuplicatesWithinWatermark(["event_id"])
          .drop("_wm"))
    _run_to_completion(
        ev.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_join_replay(spark: SparkSession, sf_dir: str,
                          tolerance_s: int = 3600,
                          watermark: str = "2 hours",
                          trade_mod: int = 20,
                          timeout_s: int = 300,
                          tolerance: str | None = None) -> DataFrame:
    """Stream-stream interval join replay: the trades projection of
    the events stream inner-joined to a tick projection of the SAME
    stream (ticker match, tick in [trade_ts − 1 hour, trade_ts]).
    Inner joins emit as soon as both sides are processed — one
    availableNow batch sees both sides completely, so the output
    equals the batch interval join exactly (watermarks only bound
    join state, never filter an inner match within the batch).
    Event time for watermark + join condition is the UTC-pinned twin
    of the naive ts (see _UTC_PIN); the OUTPUT carries the original
    timestamp_ntz columns.

    `trade_mod` keeps the probe side to trades with id % mod == 0:
    the memory sink materializes every joined row ON THE DRIVER, and
    an unrestricted replay at sf0.1 emits ~10M rows (~5 min — it
    timed out a 300 s bench run). The restriction bounds the sink
    while the join state still processes BOTH full streams; a real
    deployment writes to a distributed sink and needs no cap.

    Equality-key bucketing (exact): the natural join key `ticker` has
    ~5 distinct values, and Spark's stream-stream join scans the
    WHOLE per-key state buffer for every input row — O(n·m) per key,
    the measured bottleneck. Adding floor(ts / tolerance) to the
    equality key (probe side explodes its 2 possible buckets — a
    [t−tol, t] interval spans at most 2 tolerance-wide buckets, and
    each match's bucket is determined, so no pair duplicates or
    drops) multiplies key cardinality by the stream's bucket count,
    shrinking each state buffer to bucket-local rows. The interval
    predicate is unchanged, so results are identical — the standard
    banding rewrite every interval join at scale uses (measured
    12-18 s → ~4 s at sf0.1).

    `tolerance` is the pre-r2 keyword ("1 hour"-style interval
    string); it is kept as an alias, parsed to seconds, and overrides
    `tolerance_s` when given (the parameter was renamed when the
    bucketing rewrite needed integer-second arithmetic)."""
    from pyspark.sql import functions as F
    if tolerance is not None:
        tolerance_s = _parse_interval_seconds(tolerance)
    name = "stream_join_replay_" + uuid.uuid4().hex[:8]
    pin = _UTC_PIN.format(c="ts")
    tolerance = f"{tolerance_s} seconds"
    bucket = lambda c: F.expr(  # noqa: E731
        f"unix_seconds({c}) div {tolerance_s}")
    t = (trades_projection(_events_stream(spark, sf_dir))
         .filter(F.col("id") % trade_mod == 0)
         .select("ticker", "ts", "qty", F.expr(pin).alias("ts_evt"))
         .withColumn("_bk", F.explode(F.array(
             bucket("ts_evt") - 1, bucket("ts_evt"))))
         .withWatermark("ts_evt", watermark).alias("t"))
    p = (_events_stream(spark, sf_dir)
         .select(F.col("event_type").alias("ticker"), "ts",
                 F.col("value").alias("close"), F.expr(pin).alias("ts_evt"))
         .withColumn("_bk", bucket("ts_evt"))
         .withWatermark("ts_evt", watermark).alias("p"))
    cond = F.expr(
        "t.ticker = p.ticker AND t._bk = p._bk"
        f" AND p.ts_evt >= t.ts_evt - INTERVAL {tolerance}"
        " AND p.ts_evt <= t.ts_evt")
    out = (t.join(p, cond, "inner")
           .select(F.col("t.ticker").alias("ticker"),
                   F.col("t.ts").alias("trade_ts"),
                   F.col("t.qty").alias("qty"),
                   F.col("p.ts").alias("tick_ts"),
                   F.col("p.close").alias("tick_close")))
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True), name, timeout_s,
        state_partitions=JOIN_STATE_PARTITIONS)
    return spark.table(name)


def streaming_session_replay(spark: SparkSession, sf_dir: str,
                             gap_minutes: int = 30,
                             timeout_s: int = 300) -> DataFrame:
    """`session_window` sessionization executed on the streaming
    engine (merging session state!), replayed over the events table in
    complete mode. session_window's boundary rule is: an event at
    exactly prev_ts + gap starts a NEW session (windows are
    half-open [ts, ts+gap)), so the oracle's island rule uses `>= gap`
    — one boundary tighter than the batch sessionize's `> gap`.
    session_end = window.end − gap = the session's last event ts."""
    from pyspark.sql import functions as F
    name = "stream_session_replay_" + uuid.uuid4().hex[:8]
    ev = _events_stream(spark, sf_dir)
    agg = (ev.groupBy(F.session_window("ts", f"{gap_minutes} minutes"),
                      "user_id")
           .agg(F.count("*").alias("n_events")))
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        (F.col("session_window.end")
         - F.expr(f"INTERVAL {gap_minutes} MINUTES")).alias("session_end"),
        "n_events")
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("complete").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_delta_dedup_replay(spark: SparkSession, sf_dir: str,
                                 mod: int = 10, rem: int = 9,
                                 timeout_s: int = 300) -> DataFrame:
    """Stream-static incremental dedup replay — the streaming twin of
    dedup.delta_dedup at exact-fingerprint granularity: newly
    ingested documents arrive as a STREAM (here the doc_id % mod ==
    rem slice of the documents table, replayed availableNow) and each
    micro-batch is stream-static LEFT-joined against the STATIC
    corpus fingerprint index (md5 of the canonical text of every
    already-ingested doc, reduced to its first doc_id). Each delta
    doc emits immediately with the corpus doc it duplicates, or
    is_new when the corpus has never seen its content.

    This is the operational continuous-ingest dedup shape: the index
    is a persisted table maintained by the batch side (an idempotent
    upsert appends each accepted batch's fingerprints), and the
    stream only ever joins against it — no stream-stream state, no
    watermark bookkeeping, state size zero on the streaming side.
    Spark broadcasts or shuffles the static side once per micro-batch
    under AQE; at 100 TB the index join is a bucketed hash join on
    the fingerprint.

    availableNow replays the whole delta in one batch, so the output
    equals the batch left join exactly — which is what makes the
    DuckDB oracle a plain two-CTE join.

    Returns (doc_id, fingerprint, first_match, is_new).
    """
    from pyspark.sql import functions as F

    from ..io import read_table
    from ..operators.text import fingerprint

    name = "stream_delta_dedup_" + uuid.uuid4().hex[:8]
    corpus = (fingerprint(
                  read_table(spark, sf_dir, "documents")
                  .filter(F.col("doc_id") % mod != rem))
              .groupBy("fingerprint")
              .agg(F.min("doc_id").alias("first_match")))
    delta = (spark.readStream.schema(schemas.DOCUMENTS)
             .option("pathGlobFilter", "documents.parquet")
             .parquet(sf_dir)
             .filter(F.col("doc_id") % mod == rem))
    out = (fingerprint(delta).select("doc_id", "fingerprint")
           .join(corpus, "fingerprint", "left")
           .select("doc_id", "fingerprint", "first_match",
                   F.col("first_match").isNull().alias("is_new")))
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_dsir_replay(spark: SparkSession, sf_dir: str,
                          mod: int = 10, rem: int = 9,
                          timeout_s: int = 300) -> DataFrame:
    """Stream-static DSIR scoring — the incremental form of
    text.dsir_weights and the operational data-selection shape: the
    bucket model (add-one-smoothed ln(p_target/p_raw) per hashed
    unigram bucket) is built NIGHTLY from the already-ingested CORPUS
    (the doc_id % mod != rem slice — a persisted B-row table in
    production), and newly crawled documents arrive as a STREAM (the
    % mod == rem slice, availableNow) whose tokens join the broadcast
    model per micro-batch. Buckets the corpus never saw fall back to
    the closed-form default ln((N_raw+B)/(N_tgt+B)) (c_t = c_r = 0 in
    the smoothed ratio) — delta vocabulary is exactly where that
    branch matters.

    No stream-stream state: the only streaming aggregation is the
    per-doc term sum (docs never span micro-batches — a doc is one
    row that explodes within its batch). At 100 TB the model is O(B)
    broadcast and the stream side is a shuffle-free map + one keyed
    sum per batch.

    Exactness: the same integer-ratio ln args, DECIMAL(38,10)
    roundtrips, and exact decimal sums as the batch op; the oracle is
    the corpus/delta split spelled out in SQL. Returns
    (doc_id, n_tokens, dsir_logweight) for the delta docs.
    """
    from pyspark.sql import functions as F

    from ..derive import DEC
    from ..io import read_table
    from ..operators.text import (DSIR_BUCKETS, DSIR_TARGET_LANG,
                                  dsir_model, dsir_tokens, tokens_col)

    name = "stream_dsir_" + uuid.uuid4().hex[:8]
    corpus_toks = dsir_tokens(
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % mod != rem))
    model, tot = dsir_model(corpus_toks)
    dflt = tot.select(
        F.log((F.col("_nr") + DSIR_BUCKETS).cast("double")
              / (F.col("_nt") + DSIR_BUCKETS).cast("double"))
         .cast(DEC).alias("_dflt"))
    # layout-aware source (r9b probe finding): pathGlobFilter matches
    # LEAF file names only, so a documents.parquet DIRECTORY
    # (Spark-written probe/test layouts) silently yields an EMPTY
    # stream under the flat-file glob — while the file source's
    # basePath must be a directory, so the direct path fails on the
    # flat-file testdata layout. Pick per layout (local-path check;
    # a cluster deployment points at its real directory).
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(p):
        src = spark.readStream.schema(schemas.DOCUMENTS).parquet(p)
    else:
        src = (spark.readStream.schema(schemas.DOCUMENTS)
               .option("pathGlobFilter", "documents.parquet")
               .parquet(sf_dir))
    delta = src.filter(F.col("doc_id") % mod == rem)
    toks = (delta.select("doc_id", F.explode(tokens_col()).alias("w"))
            .filter(F.col("w") != "")
            .select("doc_id",
                    (F.conv(F.substring(F.sha2(F.col("w"), 256), 1, 8),
                            16, 10).cast("bigint")
                     % DSIR_BUCKETS).alias("b")))
    out = (toks.join(F.broadcast(model), "b", "left")
           .crossJoin(F.broadcast(dflt))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_tokens"),
                F.round(F.sum(F.coalesce(F.col("_lnr"),
                                         F.col("_dflt")))
                        .cast("double"), 6).alias("dsir_logweight")))
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("update").trigger(availableNow=True), name, timeout_s)
    return (spark.table(name)
            .select("doc_id", "n_tokens", "dsir_logweight")
            .orderBy("doc_id"))


def streaming_semantic_dedup_replay(spark: SparkSession, sf_dir: str,
                                    mod: int = 10, rem: int = 9,
                                    timeout_s: int = 300) -> DataFrame:
    """Stream-static SEMANTIC dedup replay — the streaming twin of
    similarity.semantic_dedup for continuous ingest: newly arriving
    vectors (the vec_id % mod == rem slice, replayed availableNow)
    are assigned to the CORPUS codebook's cell and compared against
    the corpus members of that cell only; a delta vector is a dup
    when some already-ingested corpus vector in its cell clears the
    cosine threshold. Delta-vs-corpus only (no intra-delta pairs) —
    the same contract as delta_dedup/streaming_delta_dedup_replay at
    exact-fingerprint granularity, now by meaning.

    Streaming-legal construction (no window, no aggregation on the
    stream): the codebook broadcasts as ONE array column and the
    argmax is an in-row transform + array_position (FIRST maximal dot
    = lowest-cid ties — the batch tie rule); the per-cell corpus
    members broadcast as arrays keyed by cell, and the max-cosine is
    an in-row fold over the member array. In-row MAX is exactly
    order-independent, so collect_list's nondeterministic member
    order cannot perturb the value. Member arrays are bounded by the
    √N cell rule (semantic_cells of the CORPUS count); at real scale
    the members frame is a static table the batch side maintains and
    the stream side joins — zero streaming state, like every
    stream-static twin here. (The nested-lambda dot kernel is the
    form batch semantic_dedup rejected for throughput; on the
    delta-sized stream it is the correct tool because windows are
    unavailable on streams.)

    availableNow over the single parquet file = one micro-batch, so
    the output equals the batch formulation exactly — the oracle is
    plain SQL. Returns (vec_id, cell, max_corpus_cos, is_dup).
    """
    from pyspark.sql import functions as F

    from ..io import read_table
    from ..operators.similarity import (
        SEMANTIC_DEDUP_TAU, _dot_sql, _norm_sql, semantic_cells)

    from pyspark.sql import Window as W

    name = "stream_semantic_dedup_" + uuid.uuid4().hex[:8]
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % mod != rem)
    n_cells = semantic_cells(corpus.count())
    # codebook: the n_cells SMALLEST corpus vec_ids — as ROWS for the
    # static side (join + row_number keeps the dot kernel in codegen;
    # the corpus is the big side) and as one ordered array column for
    # the STREAM side (windows are unavailable on streams; in-row
    # argmax is the streaming-legal form and the delta is small)
    cent_rows = (corpus.orderBy("vec_id").limit(n_cells)
                 .select(F.row_number().over(W.orderBy("vec_id"))
                         .alias("_rn"),
                         F.col("embedding").alias("_cvec"))
                 .select((F.col("_rn") - 1).cast("int").alias("_cid"),
                         "_cvec"))
    # r9-opt (guide §2.5): the embeddings scan is ONE parquet split
    # locally, so the N×c dot-product expansion below ran on a single
    # core (measured: the static members build alone was 8.3 s at
    # 0.94 host idle). Same spread rule as the batch kernels in
    # similarity._spread — no-op on a cluster with real splits.
    from ..functions.partitioning import spread
    scored = (spread(corpus, "vec_id").crossJoin(F.broadcast(cent_rows))
              .select("vec_id", "embedding", "_cid",
                      F.expr(_dot_sql("embedding", "_cvec")).alias("_dot")))
    w = W.partitionBy("vec_id").orderBy(F.desc("_dot"), F.asc("_cid"))
    corpus_cells = (scored.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .select("vec_id", "embedding",
                            F.col("_cid").alias("cell"),
                            F.expr(_norm_sql("embedding")).alias("_nrm")))
    members = (corpus_cells
               .groupBy("cell")
               .agg(F.collect_list(F.struct("embedding", "_nrm"))
                    .alias("_members")))
    cents = (cent_rows.groupBy()
             .agg(F.sort_array(F.collect_list(F.struct("_cid", "_cvec")))
                  .alias("_cs"))
             .select(F.transform("_cs", lambda s: s["_cvec"])
                     .alias("_cents")))
    dots = f"transform(_cents, c -> {_dot_sql('embedding', 'c')})"
    assign = [
        F.col("vec_id"), F.col("embedding"),
        (F.array_position(F.expr(dots), F.array_max(F.expr(dots))) - 1)
        .cast("int").alias("cell"),
        F.expr(_norm_sql("embedding")).alias("_nrm")]
    delta = (spark.readStream.schema(schemas.EMBEDDINGS)
             .option("pathGlobFilter", "embeddings.parquet")
             .parquet(sf_dir)
             .filter(F.col("vec_id") % mod == rem))
    pair_cos = (f"({_dot_sql('embedding', 'm.embedding')})"
                f" / (_nrm * m._nrm)")
    # transform-then-array_max: each member's cosine is computed ONCE
    # (the CASE-fold form evaluated the pair kernel 2-3× per member)
    max_cos = F.expr(
        f"array_max(transform(_members, m -> {pair_cos}))")
    out = (delta.crossJoin(F.broadcast(cents)).select(*assign)
           .join(members, "cell", "left")
           .withColumn("_mx", max_cos)
           .select("vec_id", "cell",
                   F.round("_mx", 6).alias("max_corpus_cos"),
                   F.coalesce(F.col("_mx") >= SEMANTIC_DEDUP_TAU,
                              F.lit(False)).alias("is_dup")))
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_quality_filter_replay(spark: SparkSession, sf_dir: str,
                                    timeout_s: int = 300) -> DataFrame:
    """Continuous-ingest quality gate: the Gopher-style composite
    filter (operators/text.gopher_filter) applied to DOCUMENTS AS A
    STREAM — the shape a live crawl pipeline runs, where every
    arriving document is flag-scored before it ever lands in the
    corpus.

    This is the cheapest legal streaming query — a pure stateless
    projection (no watermark, no state store, append mode), so each
    micro-batch is a fused map stage exactly like the batch plan;
    stream == batch BY CONSTRUCTION, which is what lets the batch
    gopher_filter oracle check the streamed output bit-exactly.
    availableNow over the single parquet file replays the corpus as
    one micro-batch.
    """
    from ..operators.text import gopher_filter

    name = "stream_quality_" + uuid.uuid4().hex[:8]
    docs = (spark.readStream.schema(schemas.DOCUMENTS)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))
    out = gopher_filter(docs)
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("append").trigger(availableNow=True), name, timeout_s)
    return spark.table(name)


def streaming_attribution_replay(spark: SparkSession, sf_dir: str,
                                 timeout_s: int = 300) -> DataFrame:
    """Last-touch attribution executed on the STREAMING engine: an
    applyInPandasWithState fold carries each user's most recent click
    timestamp across micro-batches and emits one attributed row per
    purchase; the memory-sink rows then roll up to the identical
    (attr_bucket, n_purchases, attributed_value) frame as the batch
    `sessions.attribution_last_touch` — so the stateful streaming
    path is gated by the SAME oracle row (the streaming_fold_replay
    precedent applied to marketing state).

    Within a batch the fold processes (ts, event_id)-sorted rows, so
    a click at the same timestamp counts as prior exactly when its
    event_id is smaller — the batch window's tiebreak, reproduced.
    State per user is ONE timestamp; at 100 TB this is the canonical
    keyed-state shape (RocksDB-backed, watermark-evictable)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout)
    from ..derive import dsum
    from ..operators.sessions import ATTR_BUCKETS

    out_schema = T.StructType([
        T.StructField("attr_bucket", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("click_us", T.LongType()),
    ])
    buckets = tuple(ATTR_BUCKETS)

    def _fold(key, pdfs, state: GroupState):
        # -1 is the stored "no click yet" sentinel (state columns
        # cannot be None-typed cleanly across restores)
        click_us = None
        if state.exists and state.get[0] >= 0:
            click_us = state.get[0]
        rows_b, rows_v = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for et, ts, val in zip(pdf["event_type"].values,
                                   pdf["ts"].values,
                                   pdf["value"].values):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                if et == "click":
                    click_us = ts_us
                elif et == "purchase":
                    if click_us is None:
                        b = "never_clicked"
                    else:
                        gap_min = (ts_us - click_us) / 60e6
                        for mins, name in buckets:
                            if gap_min <= mins:
                                b = name
                                break
                        else:
                            b = "stale"
                    rows_b.append(b)
                    rows_v.append(float(val))
        state.update((click_us if click_us is not None else -1,))
        yield pd.DataFrame({"attr_bucket": rows_b, "value": rows_v})

    name = "stream_attr_replay_" + uuid.uuid4().hex[:8]
    ev = _events_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value")
    per_purchase = (ev.groupBy("user_id")
                    .applyInPandasWithState(
                        _fold,
                        outputStructType=out_schema,
                        stateStructType=state_schema,
                        outputMode="append",
                        timeoutConf=GroupStateTimeout.NoTimeout))
    _run_to_completion(
        per_purchase.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True), name, timeout_s)
    from pyspark.sql import functions as F
    return (spark.table(name)
            .groupBy("attr_bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
                 F.round(dsum(F.col("value")), 2).cast("double")
                  .alias("attributed_value"))
            .orderBy("attr_bucket"))


def streaming_hll_replay(spark: SparkSession, sf_dir: str,
                         timeout_s: int = 300) -> DataFrame:
    """HyperLogLog register build executed on the STREAMING engine:
    `sketches.hll_registers` is a plain groupBy(event_type, reg).max
    — a supported streaming aggregation whose state store IS the
    sketch (O(groups · 64) rows, register-wise max merge across
    micro-batches; complete mode re-emits the register table). The
    memory-sink registers then roll up through the SAME
    `sketches.hll_rollup` as the batch operator, so the streamed
    sketch is gated by the hll_distinct oracle verbatim (the
    streaming_attribution_replay precedent: streaming does the
    stateful part, the rollup is shared code).

    The exact_distinct yardstick column joins from a BATCH read of
    the same table — deliberately: the sketch exists precisely
    because a streaming exact COUNT(DISTINCT) would need unbounded
    state; the streamed artifact is the register table alone. 100 TB
    shape: continuous cardinality with bounded keyed state, the thing
    dashboards poll instead of re-scanning the firehose."""
    from pyspark.sql import functions as F

    from ..io import read_table
    from ..operators.sketches import hll_registers, hll_rollup

    name = "stream_hll_replay_" + uuid.uuid4().hex[:8]
    regs = hll_registers(_events_stream(spark, sf_dir))
    _run_to_completion(
        regs.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True),
        name, timeout_s)
    exact = (read_table(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return hll_rollup(spark.table(name), exact)


def streaming_bloom_probe_replay(spark: SparkSession, sf_dir: str,
                                 timeout_s: int = 300) -> DataFrame:
    """Bloom membership probe executed on the STREAMING engine — the
    operational form of sketches.bloom_chunk_probe: the standing
    corpus' filter is STATIC state built batch-side once, packed as a
    REAL bitmap (an array of m/64 64-bit words — one bit_or-aggregated
    broadcast row), the delta documents arrive as a stream, and each
    arriving chunk tests its k bit positions IN-ROW with O(1) word
    shift/AND per position (element_at + shiftright + bitwiseAND) — a
    pure stateless projection, append mode, no streaming aggregation
    at all. The first cut kept the filter as a set-bit ARRAY and
    probed with array_contains: O(|set bits|) per position ≈ 1.2e9
    comparisons at sf0.1, measured 8.8 s; the packed form is the
    data structure Bloom actually specified, and is sub-second.

    The per-doc rollup runs batch-side on the memory sink (distinct
    chunks, exact-membership yardstick joined there from the corpus
    key set — the exact set never ships to the stream, only the m-bit
    filter does, which is precisely the 100 TB point), so the
    streamed probe is gated by the bloom_chunk_probe oracle verbatim.
    """
    from pyspark.sql import functions as F

    from ..io import read_table
    from ..operators.packing import _chunks, CHUNK_TOKENS
    from ..operators.sketches import (
        BLOOM_DELTA_MOD, _bloom_bits, _bloom_m)

    from ..functions.checkpoints import iter_checkpoint

    name = "stream_bloom_probe_" + uuid.uuid4().hex[:8]
    # checkpoint barrier: the corpus key set feeds THREE consumers
    # (the sizing count, the bitmap build, the exact-yardstick join)
    # — without it each one re-runs the corpus chunk explode
    corpus_keys = iter_checkpoint(
        _chunks(read_table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % BLOOM_DELTA_MOD
                        != BLOOM_DELTA_MOD - 1), CHUNK_TOKENS)
        .select(F.md5("chunk").alias("cm")).distinct())
    n = corpus_keys.count()  # O(1) driver state: sizes the filter
    m = _bloom_m(n)
    nwords = m // 64
    # packed bitmap: word w = OR of (1 << bit%64) over set bits with
    # bit//64 == w; missing words are zero. ONE dense array column.
    words = (corpus_keys
             .select(F.explode(_bloom_bits(F.col("cm"), m)).alias("bit"))
             .select(F.floor(F.col("bit") / 64).cast("int").alias("w"),
                     F.expr("shiftleft(1L, CAST(bit % 64 AS INT))")
                     .alias("v"))
             .groupBy("w").agg(F.bit_or("v").alias("v")))
    bitmap = (words
              .groupBy()
              .agg(F.map_from_entries(F.collect_list(F.struct("w", "v")))
                   .alias("_wm"))
              .select(F.transform(
                  F.sequence(F.lit(0), F.lit(nwords - 1)),
                  lambda i: F.coalesce(
                      F.element_at("_wm", i.cast("int")), F.lit(0)))
                  .alias("_bm")))
    delta = (spark.readStream.schema(schemas.DOCUMENTS)
             .option("pathGlobFilter", "documents.parquet")
             .parquet(sf_dir)
             .filter(F.col("doc_id") % BLOOM_DELTA_MOD
                     == BLOOM_DELTA_MOD - 1))
    probes = (_chunks(delta, CHUNK_TOKENS)
              .select("doc_id", F.md5("chunk").alias("cm"))
              .crossJoin(F.broadcast(bitmap))
              .withColumn("_pb", _bloom_bits(F.col("cm"), m))
              .select("doc_id", "cm",
                      F.expr(
                          "forall(_pb, b ->"
                          " (element_at(_bm, CAST(b div 64 AS INT) + 1)"
                          " & shiftleft(1L, CAST(b % 64 AS INT))) != 0L)")
                      .alias("bloom_hit")))
    _run_to_completion(
        probes.writeStream.format("memory").queryName(name)
              .outputMode("append").trigger(availableNow=True),
        name, timeout_s)
    ex = corpus_keys.select("cm", F.lit(True).alias("_ex"))
    flagged = (spark.table(name).distinct()
               .join(F.broadcast(ex), "cm", "left")
               .select("doc_id", "bloom_hit",
                       F.coalesce(F.col("_ex"), F.lit(False))
                       .alias("exact_dup")))
    return (flagged.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
                 .cast("long").alias("n_bloom_hit"),
                 F.sum(F.when(F.col("exact_dup"), 1).otherwise(0))
                 .cast("long").alias("n_exact_dup"),
                 F.sum(F.when(F.col("bloom_hit") & ~F.col("exact_dup"), 1)
                       .otherwise(0)).cast("long").alias("n_false_pos"))
            .orderBy("doc_id"))


def streaming_cms_replay(spark: SparkSession, sf_dir: str,
                         timeout_s: int = 300) -> DataFrame:
    """Count-min heavy hitters with the COUNTER GRID built on the
    streaming engine: `sketches.cms_grid` over the streamed token
    explode is a plain groupBy(hr, cell).count() — a supported
    streaming aggregation whose state store is the d·w grid,
    counter-wise summed across micro-batches (complete mode re-emits
    the grid). The memory-sink grid then feeds the SAME
    `sketches.cms_probe` as the batch operator, with the true top-k
    yardstick computed from a batch read — so the streamed sketch is
    gated by the cms_heavy_hitters oracle verbatim. This completes
    the streaming-twin set for the sketch tier: HLL (register max
    state), CMS (counter sum state), Bloom (stateless broadcast
    probe) — the three mergeable-state shapes a continuous-ingest
    pipeline runs."""
    from pyspark.sql import functions as F

    from ..io import read_table
    from ..operators.sketches import (
        CMS_TOPK, cms_grid, cms_probe, cms_tokens)

    name = "stream_cms_replay_" + uuid.uuid4().hex[:8]
    docs = (spark.readStream.schema(schemas.DOCUMENTS)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))
    grid = cms_grid(cms_tokens(docs))
    _run_to_completion(
        grid.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True),
        name, timeout_s)
    true = (cms_tokens(read_table(spark, sf_dir, "documents"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("true_count"))
            .orderBy(F.desc("true_count"), F.asc("token"))
            .limit(CMS_TOPK))
    return cms_probe(spark.table(name), true)


def streaming_ewma_replay(spark: SparkSession, sf_dir: str,
                          timeout_s: int = 300) -> DataFrame:
    """Per-ticker EWMA of event values maintained as keyed streaming
    state (applyInPandasWithState), replayed via one availableNow
    micro-batch; returns (ticker, n_events, ewma). Within the single
    batch the kernel folds each key's events in (ts, event_id) order
    (same single-file caveat as streaming_fold_replay); alpha = 2^-2
    is an exact binary fraction, so the state trajectory is
    bit-identical to the recursive-CTE oracle."""
    from pyspark.sql import functions as F

    from .stateful import streaming_ewma_state
    name = "stream_ewma_replay_" + uuid.uuid4().hex[:8]
    out = streaming_ewma_state(_events_stream(spark, sf_dir))
    _run_to_completion(
        out.writeStream.format("memory").queryName(name)
           .outputMode("update").trigger(availableNow=True), name, timeout_s)
    return (spark.table(name)
            .select("ticker", "n_events", F.round("ewma", 6).alias("ewma")))


def streaming_holt_replay(spark: SparkSession, prices: DataFrame,
                          timeout_s: int = 300) -> DataFrame:
    """Per-ticker Holt level+trend smoothing maintained as keyed
    streaming state (applyInPandasWithState over daily closes),
    replayed via one availableNow micro-batch — the incremental twin
    of windowed.holt_winters, emitting the IDENTICAL
    (ticker, ts, close, level, trend, forecast) frame so the oracle
    is the batch recursive-CTE SQL verbatim (the
    streaming_twr_replay precedent). `prices` is the batch-built
    (ticker, ts, close) frame, staged to a scratch parquet dir
    (cleaned in finally) because a memory-sink replay needs a
    file-source stream."""
    from .stateful import streaming_holt_state
    name = "stream_holt_replay_" + uuid.uuid4().hex[:8]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    stage = os.path.join(repo, "spark-warehouse", "_holt_panel_" + name)
    prices = prices.select("ticker", "ts", "close")
    try:
        prices.write.mode("overwrite").parquet(stage)
        src = spark.readStream.schema(prices.schema).parquet(stage)
        out = streaming_holt_state(src)
        _run_to_completion(
            out.writeStream.format("memory").queryName(name)
               .outputMode("update").trigger(availableNow=True),
            name, timeout_s)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name).select("ticker", "ts", "close", "level",
                                    "trend", "forecast")


def streaming_twr_replay(spark: SparkSession, panel: DataFrame,
                         timeout_s: int = 300) -> DataFrame:
    """Per-user portfolio TWR index maintained as keyed streaming
    state (applyInPandasWithState over daily panel marks), replayed
    via one availableNow micro-batch — the incremental twin of the
    flagship batch composite windowed.portfolio_twr and the
    operational shape of the reference's periodic-ingest contract
    (README.md:33-34): each day's (user, ticker, qty, close_i) marks
    arrive and the per-user state (last day's marks + running ln-sum)
    advances in O(new marks), with NO recompute of the history.

    `panel` is the batch-built daily marks frame (user_price_panel —
    the upstream producer a real deployment would run per ingest);
    it is staged to a scratch parquet dir (spark-warehouse, ignored)
    because a memory-sink replay needs a file-source stream. Within
    the single batch the kernel folds days in ascending order, which
    IS the incremental trajectory (the fold is a left fold over
    days — the streaming_fold_replay argument); true multi-batch
    state carry-over is pinned by tests/test_streaming.py's
    two-batch checkpoint test."""
    from .stateful import streaming_twr_state
    name = "stream_twr_replay_" + uuid.uuid4().hex[:8]
    # anchor the scratch dir at the REPO's spark-warehouse (absolute):
    # a CWD-relative path would land wherever the embedding process
    # happens to run from
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    stage = os.path.join(repo, "spark-warehouse", "_twr_panel_" + name)
    try:
        panel.write.mode("overwrite").parquet(stage)
        src = spark.readStream.schema(panel.schema).parquet(stage)
        out = streaming_twr_state(src)
        _run_to_completion(
            out.writeStream.format("memory").queryName(name)
               .outputMode("update").trigger(availableNow=True),
            name, timeout_s)
    finally:
        # the memory sink holds the results once the availableNow
        # batch completes — the scratch panel would otherwise leak one
        # parquet dir per invocation (ADVICE r8)
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name).select("user", "d", "port_ret", "twr_idx")
