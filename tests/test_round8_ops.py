"""Round-8 regression + new-operator tests.

Round 8 executes the round-7 VERDICT list: graduating the two
rows-only queries to hash-checked oracle rows (``audio_meta``,
``approx_stats``), collision-free verify kernels for
``minhash_verified`` / ``tfidf_cosine_verified``, the PPJoin
positional filter on the prefix-filter family, the incremental TWR
streaming twin, and the ``_guarded_codebook`` empty-corpus fallback
(ADVICE item 2).
"""

from __future__ import annotations

import os

import pytest

TESTDATA = "/root/testdata"


# --- audio_meta oracle preconditions (VERDICT r7 item 1) ---------------------
# The DuckDB oracle reads per-CHAR ord(); the Spark side reads per
# UTF-8 BYTE of text cast to binary. These agree iff the corpus is
# pure ASCII; the oracle's fake-PCM branch applies iff no doc is a
# RIFF/WAVE payload. Assert both at every SF the gates run at.

@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_documents_ascii_and_not_riff(sf):
    import duckdb
    path = os.path.join(TESTDATA, sf, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    con = duckdb.connect()
    bad, riff, nulls = con.execute(f"""
        SELECT count(*) FILTER (octet_length(encode(text)) != length(text)),
               count(*) FILTER (text LIKE 'RIFF%'),
               count(*) FILTER (text IS NULL)
        FROM read_parquet('{path}')
    """).fetchone()
    assert bad == 0, "corpus no longer ASCII-pure: audio_meta oracle invalid"
    assert riff == 0, "corpus contains RIFF payloads: oracle branch invalid"
    assert nulls == 0


def test_audio_meta_fake_path_matches_byte_math(spark):
    """The fake-PCM path must equal the exact rational formula
    sqrt((Σ(b−128)² / 16384) / n) with single-rounding IEEE steps —
    the property that makes the DuckDB oracle bit-equal."""
    import math

    from etl_portfolio_tracker_spark.operators import multimodal as MM

    texts = ["hello world", "a", "  ", "ASCII only 123!"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    rows = {r["media_id"]: r
            for r in MM.audio_meta(MM.docs_as_media(docs)).collect()}
    for i, t in enumerate(texts):
        b = t.encode("ascii")
        n = len(b)
        ss = sum((x - 128) ** 2 for x in b)
        r = rows[i]
        assert r["sample_rate"] == 8000 and r["n_channels"] == 1
        assert r["bits_per_sample"] == 8 and r["n_samples"] == n
        assert r["duration_ms"] == (1000.0 * n) / 8000.0
        assert r["rms"] == math.sqrt((ss / 16384.0) / n)
        assert r["peak"] == max(abs(x - 128) for x in b) / 128.0


# --- approx_stats engine-agnostic form (VERDICT r7 item 1) -------------------

def test_approx_stats_guarantee_booleans(spark):
    from etl_portfolio_tracker_spark.operators import headline as HL
    row = HL.approx_stats(spark, os.path.join(TESTDATA, "sf0.001")).collect()
    assert len(row) == 1
    r = row[0]
    # the sketches must sit inside their published guarantees — these
    # are the same booleans the oracle pins to TRUE
    assert r["parts_ok"] and r["orders_ok"]
    assert r["q50_ok"] and r["q95_ok"] and r["q99_ok"]
    assert r["exact_parts"] > 0 and r["exact_orders"] > 0
    assert r["q50_exact"] <= r["q95_exact"] <= r["q99_exact"]


# --- _guarded_codebook sentinel (ADVICE r7 item 2) ----------------------------

def test_guarded_codebook_fully_sparse_raises(spark):
    """A corpus with ZERO vec_ids below n_cells previously returned
    empty (no rows for the window-count assert to evaluate on); the
    sentinel row makes the in-job guard fire like the old
    cents.count() path did."""
    from etl_portfolio_tracker_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(i + 1000, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dense 0-based"):
        SIM._guarded_codebook(emb, 3, "t").collect()


def test_guarded_codebook_dense_and_partial(spark):
    from etl_portfolio_tracker_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>")
    assert sorted(r["_cid"] for r in
                  SIM._guarded_codebook(emb, 4, "t").collect()) == [0, 1, 2, 3]
    with pytest.raises(Exception, match="found 2"):
        SIM._guarded_codebook(emb.filter("vec_id < 2"), 4, "t").collect()


# --- PPJoin positional filter (VERDICT r7 item 6) -----------------------------

def _pf_brute(spark, texts, tau=0.7, k=5):
    """Brute-force exact-Jaccard pairs over character k-shingles."""
    from etl_portfolio_tracker_spark.operators import dedup as DD
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    sh = {r["doc_id"]: set() for r in docs.collect()}
    for i, t in enumerate(texts):
        sh[i] = {t[j:j + k] for j in range(len(t) - k + 1)}
    out = set()
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and inter / union >= tau:
                out.add((a, b, inter))
    return docs, out


def test_prefix_filter_positional_no_false_negatives(spark):
    """Corpus crafted with partial overlaps spanning the threshold —
    the positional filter must prune candidates without losing any
    qualifying pair (zero false negatives by the PPJoin theorem)."""
    from etl_portfolio_tracker_spark.operators import dedup as DD

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # near-dup of 0
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        "a completely different document about sparks",
        "a completely different document about sharks",  # near-dup of 3
        "the quick brown fox strolls under the lazy dog",  # partial of 0
        "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr",
    ]
    docs, expect = _pf_brute(spark, texts)
    got = {(r["doc_a"], r["doc_b"], r["n_common"])
           for r in DD.prefix_filter_pairs(docs, k=5).collect()}
    assert got == expect


def test_weighted_jaccard_positional_no_false_negatives(spark):
    """Same corpus through the weighted kernel: every emitted pair's
    weighted score is >= tau and the heavily-overlapping pairs
    survive the weighted positional filter."""
    from etl_portfolio_tracker_spark.operators import dedup as DD

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox jumps over the lazy dog",
        "a completely different document about sparks",
        "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    rows = DD.weighted_jaccard_pairs(docs, k=5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert (0, 2) in got                       # exact dup always survives
    assert all(r["w_jaccard"] >= 0.7 for r in rows)
    assert rows and all(r["doc_a"] < r["doc_b"] for r in rows)


# --- streaming_twr_replay (VERDICT r7 item 7) ---------------------------------

def test_streaming_twr_matches_batch_sf0001(spark):
    """availableNow replay of the daily panel marks == batch
    portfolio_twr, bit-for-bit (also gated externally: the oracle is
    the portfolio_twr SQL verbatim)."""
    import __spark_entry__ as E
    from etl_portfolio_tracker_spark import derive
    from etl_portfolio_tracker_spark.operators import windowed as WD
    from etl_portfolio_tracker_spark.streaming.replay import (
        streaming_twr_replay)

    sf = os.path.join(TESTDATA, "sf0.001")
    tr, px = derive.trades(spark, sf), E._thinned_tick_prices(spark, sf)
    panel = WD.user_price_panel(tr, px)
    got = sorted(map(tuple, streaming_twr_replay(spark, panel).collect()))
    want = sorted(map(tuple, WD.portfolio_twr(tr, px).collect()))
    assert len(got) == len(want) > 0
    assert got == want


def test_streaming_twr_two_batch_state_carryover(spark, tmp_path):
    """TRUE incrementality: run the stream over the first half of the
    days, then add the rest and resume from the checkpoint — the
    union of the two batches' emissions must equal the single-shot
    replay (state = last day's marks + running ln-sum carries
    across batches)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_portfolio_tracker_spark.streaming.replay import (
        STATE_PARTITIONS, streaming_twr_replay)
    from etl_portfolio_tracker_spark.streaming.stateful import (
        streaming_twr_state)

    rows = []
    for day in range(8):
        d = dt.date(2024, 1, 1) + dt.timedelta(days=day)
        for tkr, base in (("AAA", 10.0), ("BBB", 20.0)):
            rows.append(("u1", tkr, d, 5.0 + day % 3, base + 1.5 * day))
        rows.append(("u2", "CCC", d, 2.0, 7.0 + day))
    panel = spark.createDataFrame(
        rows, "user string, ticker string, ts date, qty double,"
              " close_i double")
    single = sorted(map(tuple,
                        streaming_twr_replay(spark, panel).collect()))

    stage, cp = str(tmp_path / "stage"), str(tmp_path / "cp")
    cut = dt.date(2024, 1, 5)
    got: list = []

    def sink(df, _bid):
        got.extend(map(tuple,
                       df.select("user", "d", "port_ret", "twr_idx")
                         .collect()))

    def run_once():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(STATE_PARTITIONS))
        try:
            src = spark.readStream.schema(panel.schema).parquet(stage)
            q = (streaming_twr_state(src).writeStream
                 .foreachBatch(sink)
                 .option("checkpointLocation", cp)
                 .outputMode("update").trigger(availableNow=True).start())
            assert q.awaitTermination(180)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    panel.filter(F.col("ts") < F.lit(cut)).write.mode("append") \
         .parquet(stage)
    run_once()
    n_first = len(got)
    assert 0 < n_first < len(single)
    panel.filter(F.col("ts") >= F.lit(cut)).write.mode("append") \
         .parquet(stage)
    run_once()
    assert len(got) > n_first
    assert sorted(got) == single


# --- zipf_fit / source_js_divergence ------------------------------------------

def test_zipf_fit_on_zipfian_corpus(spark):
    """A corpus drawn from an exact power-law frequency table must fit
    with negative slope and near-1 r2."""
    from etl_portfolio_tracker_spark.operators import text as TX

    words = []
    for rank in range(1, 40):
        words += [f"w{rank:03d}"] * max(1, 4000 // rank)   # cnt ∝ 1/rank
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string")
    r = TX.zipf_fit(docs).collect()[0]
    assert r["n_words"] == 39
    assert r["slope"] < -0.9
    assert r["r2"] > 0.99


def test_source_js_divergence_bounds(spark):
    """JSD = 0 for identical distributions; = ln 2 (norm 1) for
    disjoint vocabularies; in between otherwise."""
    from etl_portfolio_tracker_spark.operators import text as TX

    rows = [
        (0, "alpha beta gamma alpha", "s1"),
        (1, "alpha beta gamma alpha", "s2"),      # identical to s1
        (2, "delta epsilon zeta eta", "s3"),      # disjoint from s1/s2
        (3, "alpha beta delta zeta", "s4"),       # overlaps both
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r
           for r in TX.source_js_divergence(docs).collect()}
    assert out[("s1", "s2")]["jsd"] == 0.0
    # r9 contract change (ADVICE r8 low 2): zero-shared-word pairs
    # are now EMITTED explicitly at the disjoint maximum instead of
    # silently absent
    dis = out[("s1", "s3")]
    assert dis["n_shared_words"] == 0
    assert dis["jsd"] == 0.693147 and dis["jsd_norm"] == 1.0
    # the s1/s4 partial overlap sits strictly inside (0, ln 2):
    mid = out[("s1", "s4")]
    assert 0.0 < mid["jsd"] < 0.6931472
    assert 0.0 < mid["jsd_norm"] < 1.0


# --- qlm_search / rrf_fusion --------------------------------------------------

def test_qlm_search_ranks_term_rich_docs(spark):
    from etl_portfolio_tracker_spark.operators import text as TX

    docs = spark.createDataFrame([
        (0, "spark stream join spark stream join"),
        (1, "spark data pipeline spark"),
        (2, "completely unrelated words here only"),
        (3, "join the stream of spark events join"),
    ], "doc_id long, text string")
    rows = TX.qlm_search(docs, k=4).collect()
    order = [r["doc_id"] for r in rows]
    assert order[0] in (0, 3)                 # query-dense docs lead
    assert order[-1] == 2                     # no query terms -> last
    assert all(rows[i]["score"] >= rows[i + 1]["score"]
               for i in range(len(rows) - 1))


def test_rrf_fusion_combines_lists(spark):
    from etl_portfolio_tracker_spark.operators import text as TX

    docs = spark.createDataFrame([
        (i, "spark stream join " * (1 + i % 3) + "filler " * (i % 5))
        for i in range(30)
    ], "doc_id long, text string")
    out = TX.rrf_fusion(docs).collect()
    assert 0 < len(out) <= TX.RRF_TOPK
    # fused score is the two-term reciprocal sum of the emitted ranks
    for r in out:
        want = sum(1.0 / (TX.RRF_K + x)
                   for x in (r["bm25_rank"], r["qlm_rank"])
                   if x is not None)
        assert abs(r["rrf_score"] - want) < 1e-6
    assert all(out[i]["rrf_score"] >= out[i + 1]["rrf_score"]
               for i in range(len(out) - 1))
