"""Deduplication family for training-data pipelines (SURVEY §7 tier E):

  exact        — hash-groupBy on content (or canonical fingerprint)
  ngram-Jaccard— character-shingle overlap, exact pairwise verifier
  MinHash+LSH  — shingle → K minhashes → B bands → bucket join;
                 the scale path: candidate generation without O(n²)
  SimHash      — 16-bit sign-of-weighted-sum fingerprint; near-dups
                 share the value (or differ in few bits)

Portability: every hash is md5 (identical in any engine), so the
DuckDB oracles reproduce results bit-for-bit. At 100 TB the flow is
shingle-explode (map) → min-agg per (doc, seed) (one shuffle) →
band-key groupBy (one shuffle) → within-bucket pairing; no stage is
quadratic in corpus size, only in bucket size (bounded by banding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions.checkpoints import iter_checkpoint

SHINGLE_K = 5          # character shingle width
MINHASH_SEEDS = 8      # K hash functions
LSH_BAND_ROWS = 2      # R rows per band → B = K/R = 4 bands
JACCARD_THRESHOLD = 0.5


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: group identical texts, keep the smallest doc_id.
    One shuffle on the content hash; at scale group on md5(text), not
    text, to keep shuffle rows narrow."""
    return (docs
            .groupBy(F.md5("text").alias("text_md5"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_copies")))


def shingles(docs: DataFrame, k: int = SHINGLE_K,
             distinct: bool = True) -> DataFrame:
    """Character k-shingles per doc: positions 1..len−k+1,
    substr(text, i, k). Map-side explode — the standard shingling
    kernel (Broder 1997, resemblance/minwise hashing).

    The docs frame is repartitioned first: the source scan is a
    single parquet split, and without the spread every downstream
    shingle (a ~1000× row explosion) would hash/sort on one core.
    `distinct=False` skips the set-dedup shuffle — min-aggregates
    (MinHash) are multiset-invariant, so the minhash path never pays
    it; Jaccard set counts do."""
    from ..functions.partitioning import spread
    # Short-doc guard: Spark's sequence(1, stop) REVERSES when stop < 1
    # (sequence(1, 0) = [1, 0]) and substring(text, 0, k) aliases
    # substring(text, 1, k), so an unguarded sequence emits a phantom
    # whole-text shingle for any doc with length(text) < k — while the
    # DuckDB oracle's generate_series(1, 0) is empty. A doc shorter
    # than the shingle width has ZERO k-shingles on both engines.
    # (Same CASE WHEN guard as the minhash signature path below.)
    positions = F.expr(
        f"CASE WHEN length(text) >= {k} "
        f"THEN sequence(1, length(text) - {k - 1}) "
        f"ELSE array() END")
    sh = (spread(docs, "doc_id")
          .select("doc_id",
                  F.explode(positions).alias("i"),
                  "text")
          .select("doc_id", F.substring("text", F.col("i"), F.lit(k)).alias("shingle")))
    return sh.distinct() if distinct else sh


def ngram_jaccard_pairs(docs: DataFrame,
                        threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: self-join on shared
    shingle, |A∩B| per pair, |A∪B| = |A|+|B|−|A∩B|.

    Integer counts → jaccard is one exact IEEE division. This is the
    O(pairs-sharing-a-shingle) verifier — at scale run it only on
    LSH candidates (minhash_lsh_candidates), never the full corpus.
    """
    # no .cache(): the verifier runs on bounded subsets (recompute is
    # cheaper than holding an unscoped cached RDD across driver calls)
    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (a.join(b, "shingle")
              .filter(F.col("a.doc_id") < F.col("b.doc_id"))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("n_common")))
    return (common
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("n_sh", "n_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                       .withColumnRenamed("n_sh", "n_b"), "doc_b")
            .withColumn("jaccard",
                        F.col("n_common").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "n_common", "jaccard"))


PF_TAU_NUM, PF_TAU_DEN = 7, 10  # exact rational threshold tau = 0.7
# Prefix filtering needs a DISCRIMINATIVE token universe: its cost is
# sum(df_prefix^2) over prefix tokens, so "rarest-first" only helps if
# rare tokens exist. 5-char shingles over this corpus's small word
# pool yield ~2k distinct shingles at sf0.1 (every shingle frequent:
# 1.3M candidates); 15-char shingles span ~3 words, whose order
# combinations give a 449k-token universe with a long rare tail —
# 37k candidates for the same 5000 docs (measured). Real corpora are
# Zipfian at any k; k stays a parameter.
PF_SHINGLE_K = 15


def prefix_filter_pairs(docs: DataFrame,
                        tau_num: int = PF_TAU_NUM,
                        tau_den: int = PF_TAU_DEN,
                        k: int = PF_SHINGLE_K) -> DataFrame:
    """EXACT-threshold Jaccard set-similarity self-join via PREFIX
    FILTERING — the AllPairs/PPJoin candidate rule (Bayardo, Ma &
    Srikant WWW'07; Chaudhuri, Ganti & Kaushik ICDE'06), the exact
    counterpart of minhash LSH: zero false negatives by theorem, so
    the oracle is the brute-force all-shared-shingle join.

    Rule: order all shingles by ONE global total order (ascending
    document frequency, ties by value — rarest first). For a doc with
    n distinct shingles keep only its first p = n - ceil(tau*n) + 1
    shingles as its PREFIX; candidate pairs are docs sharing a prefix
    shingle. Why complete: J(A,B) >= tau implies |A∩B| >= tau*|A∪B|
    >= ceil(tau*max(|A|,|B|)); let c* be the globally smallest common
    shingle — at least |A∩B|-1 common shingles order after it in A,
    so its position in A is <= |A| - ceil(tau*|A|) + 1 = p_A (same
    for B), i.e. every qualifying pair shares c* inside BOTH
    prefixes. ceil(tau*n) is computed in INTEGER arithmetic
    ((tau_num*n + tau_den-1) div tau_den) so no float boundary can
    disagree between engines.

    vs ngram_jaccard_pairs (the all-shared-shingle verifier): that
    join explodes on every frequent shingle (df^2 pairs per shingle)
    and is registered only on a bounded subset; here each doc ships
    only its ~(1-tau)*n rarest shingles, the frequent shingles never
    reach the pair join, and candidates shrink by orders of magnitude
    (pinned by test) — this is the form that runs on the FULL corpus.

    It adds the POSITIONAL filter (PPJoin, Xiao/Wang/Lin/Yu WWW'08
    §3.2): carry each prefix shingle's rank; for a candidate pair the
    smallest SHARED prefix shingle t (positions i in A, j in B) is
    provably the smallest COMMON shingle (any smaller common shingle
    would rank before t inside BOTH prefixes — contradiction), so
    |A∩B| ≤ 1 + min(|A|−i, |B|−j); prune unless that bound reaches
    the overlap threshold. Pure-integer form (no float boundary):
    J ≥ τ ⟺ |A∩B|·(τn+τd) ≥ τn·(|A|+|B|), so the test is
    (1 + min(nA−i, nB−j))·(τn+τd) ≥ τn·(nA+nB). Zero false negatives
    by the theorem; the brute-force oracle stays unchanged. Measured
    candidate reduction at sf0.1: see SCALING.md.

    Scale: shingles -> one shuffle for df counts, one doc-partitioned
    window pair (count + row_number share the sort), prefix self-join
    on the rarest shingles with a pair-keyed min-struct (the
    positional data rides the same aggregation that deduped the pair
    list), the size-ratio prune (divide-form, dedup.py
    minhash_verified convention) + positional prune on narrow ints
    BEFORE any shingle movement; the exact verify is the survivors-
    only string-keyed pair-explode join (the weighted_jaccard_pairs
    kernel — collision-FREE; it replaces the xxhash64 array
    intersect and its P ≈ n²·2⁻⁶⁵ caveat). At 100 TB the prefix join
    key distribution is capped by construction (a shingle in many
    prefixes has low df by definition of the order, bounded by the
    corpus near-dup rate).
    """
    tau = tau_num / tau_den  # one exact int->double divide per engine
    # distinct (doc_id, shingle) feeds FOUR consumers (df counts,
    # prefix ranking, both verify sides) — materialize once
    sh = iter_checkpoint(shingles(docs, k=k), eager=True)
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    wdoc = W.partitionBy("doc_id")
    ranked = (sh.join(dfreq, "shingle")
              .withColumn("_n", F.count(F.lit(1)).over(wdoc))
              .withColumn("_rn", F.row_number().over(
                  wdoc.orderBy("_df", "shingle"))))
    prefix_len = (F.col("_n")
                  - F.expr(f"({tau_num} * _n + {tau_den - 1})"
                           f" div {tau_den}") + 1)
    # checkpoint the ranked-prefix frame — both self-join sides
    # consume it, and branches do not share subplans (the
    # weighted_jaccard_pairs fix, same plan shape: without this the
    # df-join + two windows run twice, deterministically or not per
    # the AQE reuse lottery)
    pref = iter_checkpoint(
        ranked.filter(F.col("_rn") <= prefix_len)
              .select("doc_id", "shingle", "_df", "_rn"),
        eager=True)
    a = pref.alias("a")
    b = pref.alias("b")
    # the pair dedup doubles as the positional-filter aggregation: the
    # min struct orders by the global shingle order (_df, shingle), so
    # _m carries the smallest shared prefix shingle's positions
    cand = (a.join(b, "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.min(F.struct(F.col("a._df").alias("d"),
                                F.col("shingle").alias("s"),
                                F.col("a._rn").alias("ia"),
                                F.col("b._rn").alias("ib"))).alias("_m")))
    # size-ratio prune (divide form — boundary-safe for any threshold,
    # see minhash_verified) + positional prune, both on narrow ints
    # before any shingle moves
    surv = (cand
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("_n").alias("_na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("_n").alias("_nb")), "doc_b")
            .filter(F.least("_na", "_nb").cast("double")
                    / F.greatest("_na", "_nb") >= F.lit(tau))
            .filter((1 + F.least(F.col("_na") - F.col("_m.ia"),
                                 F.col("_nb") - F.col("_m.ib")))
                    * (tau_num + tau_den)
                    >= tau_num * (F.col("_na") + F.col("_nb")))
            .select("doc_a", "doc_b", "_na", "_nb"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    with_common = (surv.join(sha, "doc_a")
                   .join(shb, ["doc_b", "shingle"])
                   .groupBy("doc_a", "doc_b", "_na", "_nb")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    return (with_common
            .select("doc_a", "doc_b", "n_common",
                    (F.col("n_common").cast("double")
                     / (F.col("_na") + F.col("_nb") - F.col("n_common")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= tau))


def weighted_jaccard_pairs(docs: DataFrame,
                           tau_num: int = PF_TAU_NUM,
                           tau_den: int = PF_TAU_DEN,
                           k: int = PF_SHINGLE_K) -> DataFrame:
    """EXACT-threshold WEIGHTED-Jaccard set-similarity self-join via
    weighted prefix filtering — the IDF-weighted production
    complement of prefix_filter_pairs (rare-shingle evidence counts
    more; the weighted AllPairs rule of Chaudhuri/Ganti/Kaushik
    ICDE'06 §4 / Bayardo WWW'07 §5):

      w(t)     = ln((N+1)/df(t))         (smoothed idf, always > 0)
      J_w(A,B) = Σ_{t∈A∩B} w(t) / Σ_{t∈A∪B} w(t)

    Prefix rule: sort each doc's shingles by ONE global total order
    (df ASC, shingle ASC — rarest first); with suffix weight
    S_i = Σ_{j≥i} w(t_j) and doc weight W = S_1, the prefix is every
    position with S_i ≥ τ·W. Completeness: a qualifying pair has
    intersection weight ≥ τ·max(W_A, W_B); the intersection is a
    subset of the suffix starting at the globally-smallest common
    shingle c*, so S_{pos(c*)} ≥ τ·W in BOTH docs — c* is inside both
    prefixes. Zero false negatives by theorem → the oracle is the
    brute-force all-shared-shingle join.

    Cross-engine exactness: idf is the one libm call, truncated to
    DECIMAL(38,10) (the repo's libm rule) and then SCALED TO BIGINT
    micro-idf units (×10^10, the exact unscaled decimal) — after
    that EVERY sum is 64-bit integer and EVERY threshold compare is
    rational (τ_den·S ≥ τ_num·W on longs — no float boundary
    anywhere, including the final filter and the weight-ratio
    prune), and the whole plan stays in whole-stage codegen (a
    DECIMAL(38,10) variant ran on BigDecimal buffers — measured
    ~3.5× slower end-to-end). Overflow headroom: a doc needs
    Σ ln > 9·10⁸ (~70M max-idf shingles) to overflow the τ_den·W
    long — far beyond any document. The emitted w_jaccard is one
    double divide of exactly-representable longs for display.

    Scale shape (prefix_filter_pairs' plan): one df shuffle, one
    doc-keyed window pair sharing a sort, prefix self-join on the
    rare head only, weight-ratio prune (J_w ≤ min(W)/max(W)) on
    narrow longs BEFORE any shingles move, then the exact verify
    co-shuffles ONLY the survivors' weighted shingle rows: survivors
    ⋈ sw(doc_a) fans out to ~|surv|·shingles-per-doc rows, the inner
    join on (doc_b, shingle) keeps exactly the common shingles, and
    one pair-keyed sum gives Σ w — all codegen, no arrays, no hashes,
    ZERO collision caveat (string-keyed). The array-intersect form
    this replaces folded struct(hash, w) arrays, which
    `array_intersect` evaluates interpreted (SCALING.md: structs
    cost 32× vs primitive longs); with ~6k survivors the explode is
    ~2M narrow rows — cheaper than shipping both docs' arrays.
    """
    sh = iter_checkpoint(shingles(docs, k=k), eager=True)
    nd = docs.agg(F.count(F.lit(1)).alias("_nd"))
    wts = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
           .crossJoin(F.broadcast(nd))
           .select("shingle", "_df",
                   # DECIMAL(12,10): same HALF_UP 10-dp quantization
                   # as the (38,10) rule (idf < 100 always), narrow
                   # enough that ×10^10 stays inside both engines'
                   # decimal width limits before the bigint cast
                   (F.log((F.col("_nd") + 1).cast("double")
                          / F.col("_df").cast("double"))
                    .cast("decimal(12,10)") * 10_000_000_000)
                   .cast("bigint").alias("_w")))
    sw = iter_checkpoint(sh.join(wts, "shingle"), eager=True)
    wdoc = W.partitionBy("doc_id")
    ordered = (sw
               .withColumn("_wtot", F.sum("_w").over(wdoc))
               .withColumn("_suf", F.sum("_w").over(
                   wdoc.orderBy(F.col("_df"), F.col("shingle"))
                       .rowsBetween(W.currentRow, W.unboundedFollowing))))
    # checkpoint the ranked-prefix frame — it feeds BOTH sides of
    # the self-join below, and DataFrame branches do not share
    # subplans (the kn_lm_score lesson, SCALING.md): without this
    # boundary the two suffix-weight windows run TWICE (measured: 14
    # exchanges / 0 ReusedExchange / 4 Window nodes, 11.6-13.1 s at
    # sf0.1; the AQE reuse lottery swung the same code between 5.3
    # and 14.1 s). Materializing pref once makes the plan
    # deterministic.
    pref = iter_checkpoint(
        ordered
        .filter(F.col("_suf") * tau_den >= F.col("_wtot") * tau_num)
        .select("doc_id", "shingle", "_df", "_suf"),
        eager=True)
    a = pref.alias("a")
    b = pref.alias("b")
    # pair dedup doubles as the WEIGHTED positional-filter aggregation
    # (PPJoin, Xiao et al. WWW'08 §3.2, weighted form): the min
    # struct orders by the global shingle order (_df, shingle), so _m
    # carries the smallest shared prefix shingle's suffix weights.
    # That shingle is provably the smallest COMMON shingle (a smaller
    # common one would sit inside BOTH prefixes — the suffix-weight
    # prefix rule — and rank before it), so the intersection weight
    # I ≤ min(S_A(c*), S_B(c*)); J_w ≥ τ ⟺ I·(τn+τd) ≥ τn·(W_A+W_B),
    # hence prune unless min(S_A,S_B)·(τn+τd) ≥ τn·(W_A+W_B) — pure
    # 64-bit integer on micro-idf units, zero false negatives.
    cand = (a.join(b, "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.min(F.struct(F.col("a._df").alias("d"),
                                F.col("shingle").alias("s"),
                                F.col("a._suf").alias("sa"),
                                F.col("b._suf").alias("sb"))).alias("_m")))
    tots = iter_checkpoint(
        sw.groupBy("doc_id").agg(F.sum("_w").alias("_wt")),
        eager=True)
    surv = (cand
            .join(tots.select(F.col("doc_id").alias("doc_a"),
                              F.col("_wt").alias("_wa")), "doc_a")
            .join(tots.select(F.col("doc_id").alias("doc_b"),
                              F.col("_wt").alias("_wb")), "doc_b")
            .filter(F.least("_wa", "_wb") * tau_den
                    >= F.greatest("_wa", "_wb") * tau_num)
            .filter(F.least(F.col("_m.sa"), F.col("_m.sb"))
                    * (tau_num + tau_den)
                    >= tau_num * (F.col("_wa") + F.col("_wb")))
            .select("doc_a", "doc_b", "_wa", "_wb"))
    swa = sw.select(F.col("doc_id").alias("doc_a"), "shingle", "_w")
    swb = sw.select(F.col("doc_id").alias("doc_b"), "shingle")
    scored = (surv.join(swa, "doc_a")
              .join(swb, ["doc_b", "shingle"])
              .groupBy("doc_a", "doc_b", "_wa", "_wb")
              .agg(F.sum("_w").alias("_iw"))
              .withColumn("_uw", F.col("_wa") + F.col("_wb")
                          - F.col("_iw")))
    return (scored
            .filter(F.col("_iw") * tau_den >= F.col("_uw") * tau_num)
            .select("doc_a", "doc_b",
                    F.round(F.col("_iw").cast("double")
                            / F.col("_uw").cast("double"), 6)
                     .alias("w_jaccard")))


def _signature_wide(docs: DataFrame, n_seeds: int) -> DataFrame:
    """One row per doc with the K per-seed minima as columns h0..hK−1.

    Computed in a single groupBy(doc_id) with K min-aggregates over
    the shingle stream — NOT a (doc × seed) explode: the explode form
    shuffles K× the shingle rows (measured 39 s vs 4 s at sf0.1).
    Map-side partial mins make this one narrow shuffle of |docs| rows.

    The K "hash functions" are disjoint 32-bit slices of ONE sha256
    per shingle — one-permutation hashing (Li, Owen, Zhang, NIPS
    2012) — instead of K independent seeded digests: hashing is the
    stage's hot loop (11.7M md5s ≈ 10 s/core at sf0.1), so one digest
    per shingle cuts it ~8×. Each minimum is BIGINT (conv(slice, 16,
    10)), not the hex string: min(string) has an immutable agg buffer
    so Spark falls back to SortAggregate — sorting the full shingle
    explosion; numeric min keeps the stage in HashAggregate +
    whole-stage codegen. DuckDB mirrors both choices exactly
    (sha256(), CAST('0x'||substr(...) AS BIGINT)).
    """
    assert n_seeds * 8 <= 64, "sha256 hex has 64 chars = 8 slices max"
    from ..functions.partitioning import spread
    k = SHINGLE_K
    # Per-row array pipeline — ZERO shuffle. The explode→groupBy form
    # this replaces shuffled the full shingle stream (11.5M rows at
    # sf0.1) into an 8-way min aggregation; but a minhash signature
    # is a pure per-document map, so compute it inside the row:
    # one transform() builds the sha256-per-position array, then each
    # seed is an array_min over a 32-bit slice re-map. The only
    # exchange left in the whole minhash pipeline is the tiny
    # band-key join. (spread() keeps the map parallel on the single
    # local parquet split; no-op on a real cluster.)
    hashes = F.expr(
        f"CASE WHEN length(text) >= {k} THEN "
        f"  transform(sequence(1, length(text) - {k - 1}),"
        f"            i -> sha2(substring(text, i, {k}), 256)) "
        f"ELSE array() END")
    wide = spread(docs, "doc_id").select("doc_id", hashes.alias("_h"))
    return wide.select("doc_id", *[
        F.array_min(F.expr(
            f"transform(_h, h -> cast(conv(substring(h, {1 + 8 * s}, 8),"
            f" 16, 10) as bigint))")).alias(f"h{s}")
        for s in range(n_seeds)
    ])


def minhash_band_keys(docs: DataFrame,
                      n_seeds: int = MINHASH_SEEDS,
                      band_rows: int = LSH_BAND_ROWS) -> DataFrame:
    """LSH banding: band = seed div R; band key = md5 of the band's
    minhashes joined in seed order. Docs sharing any (band, key) are
    candidates."""
    wide = _signature_wide(docs, n_seeds)
    n_bands = n_seeds // band_rows
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"h{b * band_rows + r}").cast("string")
                                     for r in range(band_rows)]))
             .alias("band_key"))
        for b in range(n_bands)
    ])
    return (wide
            .select("doc_id", F.explode(bands).alias("bk"))
            .select("doc_id", F.col("bk.band").alias("band"),
                    F.col("bk.band_key").alias("band_key")))


# Pair-enumeration bucket cap: a band bucket bigger than this is a
# mass-duplication / boilerplate cluster, not pairwise near-dup signal
# — enumerating its O(|bucket|²) pairs swamps the output (measured
# tools/scale_probe.py: the max bucket grows 1025→2050 at 10× sf0.1
# and in-bucket pairs 13×). Clusters that big belong to dedup_clusters
# (hub contraction, linear). Chosen to never bind at the oracle scales
# (max bucket 98 at sf0.001, 105 at sf0.01) so capped and uncapped
# outputs coincide where the DuckDB twin runs; the oracle mirrors the
# cap anyway (QUALIFY on the bucket count) so they agree at EVERY sf.
MINHASH_BUCKET_CAP = 500


def minhash_lsh_candidates(docs: DataFrame,
                           bucket_cap: int = MINHASH_BUCKET_CAP,
                           band_keys: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band
    bucket, with the number of agreeing bands. The verify step
    (exact jaccard on candidates only) keeps the pipeline subquadratic.

    Scale note (measured, tools/scale_probe.py): the OUTPUT is
    Σ|bucket|² — at 10× corpus the in-bucket pairs grew 13× (1.14M →
    15.1M). When you need clusters rather than pairs, dedup_clusters
    star-contracts through bucket hubs and stays linear; for pair
    output, `bucket_cap` drops non-discriminative oversized buckets
    before pairing (see MINHASH_BUCKET_CAP above)."""
    from pyspark.sql import Window
    n = docs.sparkSession.sparkContext.defaultParallelism
    # explicit-N co-partition on the join key: the bucket fan-out
    # (20k band rows → ~2.3M joined pairs at sf0.1) and the pair
    # count-agg happen in the probe stage, which AQE would otherwise
    # coalesce to one partition (bk itself is only |docs|×B rows).
    # Unconditional (not spread()): the band-key frame is always
    # |docs|×B narrow rows, so this exchange is cheap at any scale.
    # `band_keys` lets a pipeline pass a precomputed/persisted
    # signature index so the sha256 shingle scan runs once per run.
    bk = (minhash_band_keys(docs) if band_keys is None
          else band_keys).repartition(n, "band", "band_key")
    # cap window runs on the co-partitioned frame — no extra exchange
    w = Window.partitionBy("band", "band_key")
    # materialize the capped frame — it feeds both self-join
    # sides, and the claimed exchange reuse is an AQE lottery
    # (measured 0 ReusedExchange / 4 Window nodes: the cap window ran
    # twice). |docs|×B narrow rows — cheap at any scale, and the
    # checkpoint preserves the (band, band_key) partitioning.
    bk = iter_checkpoint(
        bk.withColumn("_bsz", F.count("*").over(w))
          .filter(F.col("_bsz") <= bucket_cap)
          .drop("_bsz"),
        eager=True)
    a = bk.alias("a")
    b = bk.alias("b")
    return (a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_bands")))


COS_W_SCALE = 10_000  # idf quantized at 1e-4 then scaled to int —
#                       coarser than the Jaccard join's 1e-10 because
#                       the cosine compare SQUARES dot products: w²,
#                       dot ~ n_sh·w², and dot² must stay inside
#                       DECIMAL(38,0) (bounds in verify_candidates)
TFIDF_COS_TAU_NUM, TFIDF_COS_TAU_DEN = 7, 10


def verify_candidates(docs: DataFrame,
                      cands: DataFrame | None = None,
                      threshold: float = JACCARD_THRESHOLD,
                      tau_num: int = TFIDF_COS_TAU_NUM,
                      tau_den: int = TFIDF_COS_TAU_DEN,
                      weighted: bool = True) -> DataFrame:
    """The candidate-verify kernel of the near-dup family: every
    MinHash-LSH candidate pair scored ONCE for both exact verifies —
    shingle-set Jaccard and idf²-weighted cosine. Returns
    (doc_a, doc_b, n_common, jaccard, w_cosine) over the pairs that
    pass either prune; `n_common`/`jaccard` are NULL where the
    size-ratio prune failed, `w_cosine` is NULL unless cos ≥ τ. The
    verifies are filters of this frame (minhash_verified,
    tfidf_cosine_verified), so a session that persists it (the
    curation build) answers both with one job each.

    `weighted=False` scores Jaccard only (`w_cosine` is all NULL): the
    idf needs every document's shingles, but the Jaccard sets need
    only the candidates', so the unweighted call aggregates the
    candidate-restricted shingle stream (a left-semi join before the
    shuffle) and skips the weights. Standalone minhash_verified, and
    through it curation_serve and the pair reports called without
    precomputed pairs, take that path: on the whole-corpus stream they
    ran 5–63 % slower warm at sf0.1 (4 cores).

    Shape — one pass of each stage, shared by both scores:
    1. the candidates are materialized once: they feed the endpoint
       broadcast and the pair join. They are spread over
       defaultParallelism partitions, because AQE coalesces the small
       pair frame to 1-2 partitions and the per-pair array tail is
       CPU-bound per row, not per byte;
    2. ONE per-shingle aggregate over the distinct (doc, shingle)
       stream carries the document frequency `_df` (the idf needs the
       whole corpus) and the candidate posting list: membership
       attaches map-side from a broadcast of the distinct candidate
       endpoints, and collect_list skips the NULLs of non-candidates.
       It is materialized once, weighted, for the arrays and guards;
    3. ONE per-doc aggregate over the exploded postings, repartitioned
       wide by doc (set building is CPU-bound per byte, which AQE's
       byte-based coalescing would pin to 1-2 reducers), builds ONE
       set per doc: the packed long (hash44 << 20) | w plus Σw², or
       xxhash64(shingle) when unweighted. The packed set serves both
       scores: under the pack guard, distinct shingles pack to
       distinct longs, so its sizes and intersections are the
       shingle sets'. One array moves per pair side, and one
       intersect yields both n_common and the dot.

    Hashed sets are exact, not probabilistic: two 1-row injectivity
    guards assert count(hash) == count(distinct hash) over the
    dictionary. The pack guard runs over the whole vocabulary (the
    pack is a function of the dictionary alone) and makes the packed
    sets exact; the xxhash64 guard runs over the candidate vocabulary
    (the shingles of candidate docs, i.e. every set the verify
    touches) and makes the unweighted sets exact. The weighted call
    keeps it too, so the Jaccard verify still fails on any candidate
    collision; the unweighted call has no pack, so its pack guard
    holds trivially. A collision fails the job LOUDLY (the message
    says to salt the hash); it can never emit or suppress a row.
    Both guards ride the candidate frame BEFORE either prune: sizes
    and norms come from the hashed sets, so a collision that shrank a
    set could prune a true pair before any output row existed to
    evaluate a post-prune assert. An empty candidate frame needs no
    guard (collisions cannot create LSH candidates; they only affect
    the verify arithmetic).

    Prunes, on a NARROW (doc, n, n2) frame joined to the pairs before
    any array moves (the PPJoin size-filter algebra; results are
    bit-identical, so the DuckDB oracles need no mirror):
    - Jaccard: n_common ≤ min(|a|,|b|), so jaccard ≤ min/max. The bound
      uses the SAME division form as the final filter (at
      n_common == min the final expression is literally min/max), so
      the two floats round identically for any threshold;
    - cosine: cos ≤ √(min/max) on the squared norms, compared as the
      integer min·τ_den² ≥ max·τ_num². It is far looser (τ² = 0.49).
    The survivors of either prune join each side's array ONCE; the
    intersection is array_intersect on BIGINT arrays, which runs the
    specialized codegen path, where struct arrays fall back to
    interpreted comparisons (measured 32×, SCALING.md). Each score is
    computed only where its own prune passed.

    Cosine exactness: idf is quantized HALF_UP at 1e-4 and scaled to
    BIGINT (w ≤ 2.8·10⁵ for any corpus ≤ 10¹² docs, and w < 2²⁰ for
    any corpus under e^104 docs, so the pack cannot overflow a signed
    64-bit), so dot and the squared norms are exact longs and the τ
    filter is the RATIONAL squared compare
    (dot·τ_den)² ≥ (τ_num²·|A|²)·|B|² in DECIMAL(38,0) — exact for docs
    up to ~10⁶ shingles (dot·τ_den ≤ ~10¹⁷, its square ≤ 10³⁴ < 10³⁸);
    positive weights make both sides nonnegative, so squaring
    preserves the inequality. The emitted cosine is
    dot/√(|A|²·|B|²), rounded to 6 places: sqrt is IEEE-754 correctly
    rounded in both engines, so no decimal laundering is needed.
    """
    from ..functions.partitioning import spread
    cands = spread(iter_checkpoint(
        (minhash_lsh_candidates(docs) if cands is None else cands)
        .select("doc_a", "doc_b"), eager=True), "doc_a")
    cand_ids = (cands.select(F.col("doc_a").alias("doc_id"))
                .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    if weighted:
        per_sh = (shingles(docs)
                  .join(F.broadcast(cand_ids.withColumn("_c", F.lit(1))),
                        "doc_id", "left")
                  .groupBy("shingle")
                  .agg(F.count(F.lit(1)).alias("_df"),
                       F.collect_list(F.when(F.col("_c") == 1,
                                             F.col("doc_id")))
                        .alias("_docs")))
        nd = docs.agg(F.count(F.lit(1)).alias("_nd"))
        w = (F.log((F.col("_nd") + 1).cast("double")
                   / F.col("_df").cast("double"))
             .cast("decimal(8,4)") * COS_W_SCALE).cast("bigint")
        wts = per_sh.crossJoin(F.broadcast(nd)).select("shingle", "_docs",
                                                        w.alias("_w"))
    else:
        wts = (shingles(docs, distinct=False)
               .join(F.broadcast(cand_ids), "doc_id", "left_semi")
               .groupBy("shingle")
               .agg(F.collect_set("doc_id").alias("_docs"))
               .withColumn("_w", F.lit(None).cast("bigint")))
    # materialized once: the arrays and the guards read it
    wts = iter_checkpoint(wts, eager=True)
    h = F.xxhash64("shingle")
    packed = (F.shiftright(h, 20) * F.lit(1 << 20)
              + F.col("_w")).cast("bigint")
    n = docs.sparkSession.sparkContext.defaultParallelism
    arrs = iter_checkpoint(
        wts.select(F.explode("_docs").alias("doc_id"),
                   (packed if weighted else h).alias("_e"), "_w")
           .repartition(n, "doc_id")
           .groupBy("doc_id")
           .agg(F.collect_set("_e").alias("_s"),
                F.sum(F.col("_w") * F.col("_w")).alias("_n2")),
        eager=True)
    in_cands = F.size("_docs") > 0
    inj = wts.agg(F.count(F.when(in_cands, h)).alias("_ns_c"),
                  F.countDistinct(F.when(in_cands, h)).alias("_nh_c"),
                  F.count(packed).alias("_ns"),
                  F.countDistinct(packed).alias("_nh"))
    inj_ok = (F.assert_true(
        F.col("_ns_c") == F.col("_nh_c"),
        F.lit("minhash_verified: xxhash64 collision among candidate "
              "shingles — salt the hash (add a literal column) and "
              "re-run")).isNull()
        & F.assert_true(
        F.col("_ns") == F.col("_nh"),
        F.lit("tfidf_cosine_verified: 44-bit same-weight collision "
              "among candidate shingles — salt the hash and re-run"))
        .isNull())
    side = arrs.select("doc_id", F.size("_s").alias("_n"), "_n2")
    jac_ok = (F.least("_na", "_nb").cast("double")
              / F.greatest("_na", "_nb") >= F.lit(float(threshold)))
    cos_ok = (F.least("_na2", "_nb2") * (tau_den * tau_den)
              >= F.greatest("_na2", "_nb2") * (tau_num * tau_num))
    surv = (cands
            .crossJoin(F.broadcast(inj))
            .filter(inj_ok)
            .join(side.select(F.col("doc_id").alias("doc_a"),
                              F.col("_n").alias("_na"),
                              F.col("_n2").alias("_na2")), "doc_a")
            .join(side.select(F.col("doc_id").alias("doc_b"),
                              F.col("_n").alias("_nb"),
                              F.col("_n2").alias("_nb2")), "doc_b")
            .select("doc_a", "doc_b", "_na", "_nb", "_na2", "_nb2",
                    jac_ok.alias("_jok"), cos_ok.alias("_cok"))
            .filter(F.col("_jok") | F.col("_cok")))
    m20 = F.lit((1 << 20) - 1)
    dot = F.aggregate(
        "_i", F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.bitwiseAND(m20) * x.bitwiseAND(m20))
    # the intersect in its own projection: referencing it from both
    # scores would re-evaluate the O(|a|+|b|) intersect per reference
    scored = (surv
              .join(arrs.select(F.col("doc_id").alias("doc_a"),
                                F.col("_s").alias("_sa")), "doc_a")
              .join(arrs.select(F.col("doc_id").alias("doc_b"),
                                F.col("_s").alias("_sb")), "doc_b")
              .select("doc_a", "doc_b", "_na2", "_nb2", "_jok", "_cok",
                      (F.col("_na") + F.col("_nb")).alias("_tot"),
                      F.array_intersect("_sa", "_sb").alias("_i"))
              .select("doc_a", "doc_b", "_na2", "_nb2", "_tot",
                      F.when(F.col("_jok"), F.size("_i").cast("bigint"))
                       .alias("n_common"),
                      F.when(F.col("_cok"), dot).alias("_dot")))
    lhs = ((F.col("_dot") * tau_den).cast("decimal(19,0)")
           * (F.col("_dot") * tau_den))
    rhs = ((F.col("_na2") * (tau_num * tau_num)).cast("decimal(19,0)")
           * F.col("_nb2"))
    cos = F.round(F.col("_dot").cast("double")
                  / F.sqrt(F.col("_na2").cast("double")
                           * F.col("_nb2").cast("double")), 6)
    return scored.select(
        "doc_a", "doc_b", "n_common",
        (F.col("n_common").cast("double")
         / (F.col("_tot") - F.col("n_common"))).alias("jaccard"),
        F.when(lhs >= rhs, cos).alias("w_cosine"))


def jaccard_rows(scored: DataFrame,
                 threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """minhash_verified's rows of a verify_candidates frame scored at
    `threshold`."""
    return (scored.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "n_common", "jaccard"))


def cosine_rows(scored: DataFrame) -> DataFrame:
    """tfidf_cosine_verified's rows of a verify_candidates frame."""
    return (scored.filter(F.col("w_cosine").isNotNull())
            .select("doc_a", "doc_b", "w_cosine"))


def minhash_verified(docs: DataFrame,
                     threshold: float = JACCARD_THRESHOLD,
                     cands: DataFrame | None = None) -> DataFrame:
    """The full text near-dup pipeline: MinHash-LSH candidates → exact
    shingle-Jaccard computed ONLY on candidate pairs → keep pairs ≥
    `threshold` (the text twin of embedding_near_dup_verified,
    similarity.py). Candidates sharing zero shingles yield
    n_common = 0 → filtered by any useful threshold. Scored by
    verify_candidates."""
    return jaccard_rows(verify_candidates(docs, cands, threshold,
                                          weighted=False), threshold)


def tfidf_cosine_verified(docs: DataFrame,
                          tau_num: int = TFIDF_COS_TAU_NUM,
                          tau_den: int = TFIDF_COS_TAU_DEN,
                          cands: DataFrame | None = None) -> DataFrame:
    """IDF-weighted COSINE near-dup pairs on LSH candidates — the
    cosine half of the weighted-similarity family
    (weighted_jaccard_pairs is the Jaccard half): an EXACT
    idf²-weighted cosine over each candidate's shingle set, kept at
    cos ≥ τ = tau_num/tau_den. For binary idf-weighted vectors
    dot(A,B) = Σ_{t∈A∩B} w(t)² and |A|² = Σ_{t∈A} w(t)², so rare
    shared shingles dominate the score — the retrieval-style
    complement of set-overlap Jaccard. Scored by verify_candidates
    (its docstring has the exactness bounds)."""
    return cosine_rows(verify_candidates(docs, cands, tau_num=tau_num,
                                         tau_den=tau_den))


def min_label_components(labels: DataFrame, edges: DataFrame,
                         max_iter: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation.

    `labels` is (doc_id, cluster_id) with unique doc_ids, initialized
    to cluster_id=doc_id; `edges` is a SYMMETRIC (doc_a, doc_b) edge
    list. Edges with an endpoint that is not a label row are ignored.
    Each round every node takes the min of its own label and its
    neighbors' labels — Bellman-Ford-style, converging in
    graph-diameter + 1 rounds to cluster_id = min(doc_id in component).

    Round shape — one step per round, one Spark job while the graph
    fits one partition:
    - The closed neighbourhood is built once: the edges whose doc_a is
      a label row (a semi-join) plus one self-loop (doc_id, doc_id)
      per label row. It is persisted and materialized before the
      loop, in one job that counts its rows.
    - A step is one window and one aggregate, with no join: the
      neighbourhood rows (doc_a, doc_b, NULL) are unioned with the
      label rows (NULL, doc_id, cluster_id); min(cluster_id) over a
      window partitioned by doc_b carries each node's label onto
      every edge that ends at it; the label rows are dropped and
      min per doc_a is the new label. The self-loop brings each
      node's own label into the min, and an edge whose doc_b is not
      a label row carries NULL, which min ignores.
    - Layout: when the neighbourhood's measured size is at most
      spark.sql.maxSinglePartitionBytes, the union is coalesced to
      one partition. One partition satisfies the clustering both the
      window and the aggregate require, so the step plans no Exchange
      and runs in one task: the round is its checkpoint's job alone.
      Above the cap the union stays as it is and the same plan
      shuffles it by doc_b for the window and by doc_a for the
      aggregate. The size is measured (rows counted when the
      neighbourhood is materialized, times the UnsafeRow width of
      its two fixed-width columns), never read off Catalyst: the
      estimate of a frame built by a join is the product of its
      children's, and a pair join sits under both consumers' edges
      (with a join in the round, the checkpointed labels after one
      round at sf0.001 read 1.1 GB for 500 rows). The neighbourhood
      is materialized before any coalesce, so the coalesce never
      pulls the plan that builds it (e.g. semantic_clusters' cosine
      pair join) into one task.
    - The step's output is checkpointed each round so lineage stays
      O(1) (`iter_checkpoint`: reliable `checkpoint()` to the session's
      checkpoint dir when one is configured — the cluster-durable,
      lost-executor-safe path — else `localCheckpoint()`; same plan
      either way).
    - Convergence is a 1-row decimal-sum fingerprint of the labels.
      Labels only ever decrease, so the sum is strictly monotone until
      the fixpoint. It is attached to the checkpointed frame with
      `observe` and read once the eager checkpoint has run, so it
      costs no aggregate-and-collect job of its own. Each call makes
      fresh (uniquely named) Observations, so concurrent calls from a
      thread pool do not share metrics.

    One step per round, not more: every round is a cluster barrier,
    yet unrolling two steps into a round, or adding pointer jumping,
    launched as many jobs or more in total, because each extra step
    costs the same work and near-dup graphs have tiny diameters (dup
    groups are quasi-cliques: LSH links most pairs directly).

    `max_iter` is the round budget; a graph that has not converged
    within it raises instead of returning unconverged (wrong) labels.

    This is the driver-coordinated-iteration pattern (GraphX Pregel
    supersteps); for planet-scale graphs swap the per-round kernel for
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — same outer loop.
    """
    from pyspark.sql import Observation
    from ..derive import DEC
    from ..functions.partitioning import max_single_partition_bytes

    labels = iter_checkpoint(labels, eager=True)
    ids = labels.select("doc_id")
    nbrs = (edges.select("doc_a", "doc_b")
            .join(ids.select(F.col("doc_id").alias("doc_a")), "doc_a",
                  "left_semi")
            .unionByName(ids.select(F.col("doc_id").alias("doc_a"),
                                    F.col("doc_id").alias("doc_b")))
            .persist())
    try:
        built = Observation()
        (nbrs.observe(built, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        # an UnsafeRow of two fixed-width columns: null bitset + 2 slots
        one_task = (built.get["n"] * 24
                    <= max_single_partition_bytes(nbrs.sparkSession))
        no_label = F.lit(None).cast(labels.schema["cluster_id"].dataType)
        no_node = F.lit(None).cast(nbrs.schema["doc_a"].dataType)
        edge_rows = nbrs.select("doc_a", "doc_b",
                                no_label.alias("cluster_id"))
        by_b = W.partitionBy("doc_b")
        prev_fp = None
        for _ in range(max_iter):
            obs = Observation()
            both = edge_rows.unionByName(labels.select(
                no_node.alias("doc_a"), F.col("doc_id").alias("doc_b"),
                "cluster_id"))
            if one_task:
                both = both.coalesce(1)
            step = (both
                    .withColumn("cluster_id",
                                F.min("cluster_id").over(by_b))
                    .filter(F.col("doc_a").isNotNull())
                    .groupBy(F.col("doc_a").alias("doc_id"))
                    .agg(F.min("cluster_id").alias("cluster_id")))
            labels = iter_checkpoint(
                step.observe(
                    obs, F.sum(F.col("cluster_id").cast(DEC)).alias("fp")),
                eager=True)
            fp = obs.get["fp"]
            if fp == prev_fp:
                return labels
            prev_fp = fp
    finally:
        nbrs.unpersist()
    raise RuntimeError(
        "min_label_components: labels did not converge within "
        f"max_iter={max_iter} rounds (one propagation step per round); "
        "the graph's diameter exceeds the round budget")


def dedup_clusters(docs: DataFrame,
                   band_keys: DataFrame | None = None) -> DataFrame:
    """Near-duplicate clusters over the whole corpus: connected
    components of the MinHash-LSH candidate graph. Emits
    (doc_id, cluster_id) for EVERY doc — singletons cluster to
    themselves, and cluster_id is the smallest doc_id in the
    component, i.e. exactly the doc a keep-one-per-cluster dedup
    retains (`filter(doc_id == cluster_id)`).

    This is the op a training-data pipeline actually ships: pairs
    (minhash_lsh_candidates) are not directly actionable because
    near-duplication is transitive — A~B and B~C must collapse to one
    kept doc even when A,C share no band.

    Edges are STAR-CONTRACTED through each bucket's minimum member
    (its hub): bucket co-membership is transitive through the hub, so
    (doc→hub) edges have exactly the same connected components as the
    all-pairs candidate graph, with ≤ |docs|·n_bands edges instead of
    Σ|bucket|² — near-dup buckets are quasi-cliques, so the pair
    graph is quadratic precisely where dedup matters most (measured
    2.3M pairs vs 20k star edges at sf0.1, 28 s → 12 s end-to-end).

    The DuckDB oracle is a recursive-CTE transitive closure over the
    full pair graph — same fixpoint, quadratic state, fine at test
    scale; the star-contracted propagation is the 100 TB path.
    """
    bk = minhash_band_keys(docs) if band_keys is None else band_keys
    hubs = bk.groupBy("band", "band_key").agg(F.min("doc_id").alias("hub"))
    star = iter_checkpoint(
        bk.join(hubs, ["band", "band_key"])
        .filter(F.col("doc_id") != F.col("hub"))
        .select("doc_id", "hub").distinct(),
        eager=True)  # one materialization of the
    # minhash pipeline; both union branches below reuse it
    sym = (star.select(F.col("doc_id").alias("doc_a"),
                       F.col("hub").alias("doc_b"))
           .unionByName(star.select(F.col("hub").alias("doc_a"),
                                    F.col("doc_id").alias("doc_b"))))
    labels0 = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    return min_label_components(labels0, sym)


def hash_split(docs: DataFrame, train_pct: int = 80,
               val_pct: int = 10) -> DataFrame:
    """Deterministic content-hash train/val/test split: bucket =
    first-32-bits-of-md5(text) mod 100 → <80 train, <90 val, else
    test. Hashing the CONTENT (not doc_id) keeps byte-identical texts
    in the same split even across re-ingests with different ids — the
    leakage rule every training pipeline needs. Pure map, no shuffle,
    no randomness: any engine reproduces the same assignment."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint"),
        F.lit(100))
    return (docs.select("doc_id", bucket.alias("bucket"))
            .withColumn("split",
                        F.when(F.col("bucket") < train_pct, "train")
                         .when(F.col("bucket") < train_pct + val_pct, "val")
                         .otherwise("test")))


def leakage_safe_split(docs: DataFrame, train_pct: int = 80,
                       val_pct: int = 10,
                       clusters: DataFrame | None = None) -> DataFrame:
    """Near-dup-aware train/val/test split: every document in a
    near-dup CLUSTER (connected component of the LSH candidate graph,
    dedup_clusters) lands in the SAME split. Plain content-hash
    splitting (hash_split) only pins byte-identical texts together —
    two near-duplicate documents can still straddle train and test,
    which is precisely the eval-contamination path large-scale
    pipelines must close (the reason dedup precedes splitting in
    every published pretraining-data recipe).

    The split is decided by the md5 of the CLUSTER CANONICAL's text
    (the minimum-doc_id member — the doc a keep-one dedup retains),
    so assignment survives re-ingest under different doc_ids as long
    as the canonical's bytes do, matching hash_split's invariance
    rule at cluster granularity.

    Scale shape on top of dedup_clusters (whose CC cost dominates):
    one |clusters|-sized join to fetch the canonical text + hash it
    (clusters ≤ docs rows, text pruned to that join), then one
    equi-join on cluster_id to fan the bucket back to members — both
    hash-partitioned on keys Spark already shuffled for the CC, and
    the canonical frame is dimension-sized → AQE broadcasts it.

    Returns (doc_id, cluster_id, bucket, split).

    `clusters` lets a pipeline pass a precomputed/persisted
    dedup_clusters result so the CC (and the LSH behind it) runs once
    per curation run, not once per consumer — see curation_pipeline."""
    if clusters is None:
        clusters = dedup_clusters(docs)
    bucket = F.pmod(
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint"),
        F.lit(100))
    canon = (clusters.filter(F.col("doc_id") == F.col("cluster_id"))
             .select("cluster_id")
             .join(docs.select(F.col("doc_id").alias("cluster_id"), "text"),
                   "cluster_id")
             .select("cluster_id", bucket.alias("bucket")))
    return (clusters.join(canon, "cluster_id")
            .select("doc_id", "cluster_id", "bucket",
                    F.when(F.col("bucket") < train_pct, "train")
                     .when(F.col("bucket") < train_pct + val_pct, "val")
                     .otherwise("test").alias("split")))


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash (Charikar 2002) over whitespace tokens with md5-derived
    per-token bit projections: bit j weight = +1 if the j-th hex digit
    of md5(token) has its high bit set else −1, summed over token
    occurrences; fingerprint bit j = (sum > 0).

    Default width is 32 bits (md5 has 32 hex digits, so j < 32 needs
    no second hash): 16 bits saturates by the birthday bound once
    |docs| nears 2^8 — at sf0.1's 5000 docs a 16-bit fingerprint
    emitted 1.5M hamming<=2 chance pairs (see SIMHASH_PAIR_BITS).
    Production web-dedup uses 64 (Manku et al. WWW'07)."""
    from .text import tokens_col
    from ..functions.partitioning import spread
    # Per-row array pipeline — ZERO shuffle (same rewrite as
    # _signature_wide): a simhash is a pure per-document map, so the
    # token explode + groupBy(doc_id) shuffle of the full token
    # stream is wasted motion. One transform() builds the
    # md5-per-token array, then each bit's ±1 sum is an aggregate()
    # scan of that array. substring(m, j, 1) IN ('8'..'f') tests the
    # high bit of hex digit j.
    high = "('8','9','a','b','c','d','e','f')"
    md5s = F.transform(tokens_col(), lambda t: F.md5(t))
    wide = spread(docs, "doc_id").select("doc_id", md5s.alias("_m"))
    bitsums = wide.select("doc_id", *[
        F.expr(f"aggregate(_m, 0L, (acc, m) -> acc + "
               f"IF(substring(m, {j + 1}, 1) IN {high}, 1L, -1L))")
         .alias(f"s{j}")
        for j in range(bits)])
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return bitsums.select("doc_id", fp.alias("simhash"))


SAMPLE_RATES_BP = {"even": 7500, "odd": 2500}   # basis points of 10000


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic per-source downsampling — the data-mixing step of
    a pre-training pipeline (each source gets a target keep-rate; the
    keep decision is a pure content-hash threshold, so re-runs,
    engines, and partitionings all agree, unlike rand()-based
    sampling).

    keep ⇔ first-32-bits-of-md5('sample:' || doc_id) mod 10000 <
    rate_bp(source); demo rates: even-numbered sources keep 75%,
    odd-numbered 25%. Pure map + one rollup shuffle; emits per-source
    survival stats (the mixing report).
    """
    u = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("sample:"),
                                          F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("bigint"),
        F.lit(10000))
    src_num = F.regexp_replace("source", "[^0-9]", "").cast("int")
    rate_bp = F.when(src_num % 2 == 0,
                     F.lit(SAMPLE_RATES_BP["even"])) \
               .otherwise(F.lit(SAMPLE_RATES_BP["odd"]))
    kept = (u < rate_bp)
    return (docs.select("source", "n_chars", kept.alias("kept"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("kept"), 1).otherwise(0))
                  .alias("n_kept"),
                 F.sum(F.when(F.col("kept"), F.col("n_chars"))
                        .otherwise(F.lit(0))).alias("kept_chars"))
            .orderBy("source"))


def canonical_docs(docs: DataFrame,
                   clusters: DataFrame | None = None) -> DataFrame:
    """Cluster → representative selection: for every near-dup cluster
    (dedup_clusters), keep the LONGEST member (ties → lowest doc_id) —
    the "keep the most complete version" policy real pipelines apply
    after clustering, rather than blindly keeping the lowest id.

    Emits every doc with its cluster, the cluster size, and the kept
    flag. One window over the (doc → cluster) frame, partitioned by
    cluster — the natural key; both the rank and the size share the
    same partitioning, so it is one shuffle past clustering.
    `clusters` — optional precomputed dedup_clusters result (see
    curation_pipeline)."""
    cl = (dedup_clusters(docs) if clusters is None
          else clusters)                         # doc_id, cluster_id
    j = cl.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("cluster_id")
    w_rank = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return j.select(
        "doc_id", "cluster_id", "n_chars",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.row_number().over(w_rank) == 1).alias("kept"))


def prune_exact_stage(docs: DataFrame) -> DataFrame:
    """corpus_prune's exact-dup stage verdict, (doc_id, _exact_keep) —
    exposed so the shared curation build can materialize it WHILE the
    clusters CC loop runs (it does not depend on clusters).
    corpus_prune derives it itself when not supplied."""
    from .text import fingerprint
    fp = fingerprint(docs).select("doc_id", "fingerprint")
    w_fp = W.partitionBy("fingerprint").orderBy("doc_id")
    return fp.select(
        "doc_id", (F.row_number().over(w_fp) == 1).alias("_exact_keep"))


def prune_quality_stage(docs: DataFrame) -> DataFrame:
    """corpus_prune's quality stage verdict, (doc_id, _q_keep) — see
    prune_exact_stage."""
    from .text import gopher_filter
    return gopher_filter(docs).select(
        "doc_id", F.col("keep").alias("_q_keep"))


def corpus_prune(docs: DataFrame,
                 clusters: DataFrame | None = None,
                 exact: DataFrame | None = None,
                 qual: DataFrame | None = None) -> DataFrame:
    """End-to-end corpus curation verdict — the composition a
    training-data pipeline actually ships: exact dedup (canonical-form
    fingerprint, first doc_id wins) → near-dup dedup (cluster
    representative, longest wins) → quality filter (Gopher rules).
    Emits per-doc kept + the FIRST failing stage as the reason
    ('exact_dup' → 'near_dup' → 'quality' → 'kept').

    The three stage verdicts are computed independently (each its own
    documented plan: fingerprint is a pure map + one window,
    clustering is the star-contracted CC, gopher is a pure map) and
    combined with one three-way join on doc_id — at 100 TB each stage
    is separately cacheable/checkpointable, which is exactly how a
    multi-stage curation DAG is operated. `clusters` / `exact` /
    `qual` — optional precomputed stage frames (see curation_pipeline
    and the shared `_curation` build, which overlaps the two
    clusters-independent stages with the CC loop)."""
    exact = prune_exact_stage(docs) if exact is None else exact
    near = canonical_docs(docs, clusters=clusters).select(
        "doc_id", "cluster_id", "cluster_size",
        F.col("kept").alias("_near_keep"))
    qual = prune_quality_stage(docs) if qual is None else qual
    reason = (F.when(~F.col("_exact_keep"), F.lit("exact_dup"))
               .when(~F.col("_near_keep"), F.lit("near_dup"))
               .when(~F.col("_q_keep"), F.lit("quality"))
               .otherwise(F.lit("kept")))
    return (exact.join(near, "doc_id").join(qual, "doc_id")
            .select("doc_id", "cluster_id", "cluster_size",
                    (F.col("_exact_keep") & F.col("_near_keep")
                     & F.col("_q_keep")).alias("kept"),
                    reason.alias("reason")))


def prune_report(docs: DataFrame,
                 verdict: DataFrame | None = None) -> DataFrame:
    """Corpus-curation dashboard row set: per prune reason, the doc
    count and character mass plus their fractions of the corpus — the
    summary every curation run reports. One tiny rollup over
    corpus_prune (4 reason keys), totals joined as a broadcast 1-row
    aggregate of the same partials. `verdict` — optional precomputed
    corpus_prune result (see curation_pipeline)."""
    pr = (corpus_prune(docs) if verdict is None else verdict).join(
        docs.select("doc_id", "n_chars"), "doc_id")
    per = (pr.groupBy("reason")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("n_chars")))
    tot = per.agg(F.sum("n_docs").alias("_td"),
                  F.sum("n_chars").alias("_tc"))
    return (per.crossJoin(F.broadcast(tot))
            .select("reason", "n_docs", "n_chars",
                    F.round(F.col("n_docs").cast("double") / F.col("_td"), 6)
                     .alias("doc_frac"),
                    F.round(F.col("n_chars").cast("double") / F.col("_tc"), 6)
                     .alias("char_frac"))
            .orderBy("reason"))


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def pagerank(docs: DataFrame, n_iter: int = PAGERANK_ITERS,
             damping: float = PAGERANK_DAMPING,
             cands: DataFrame | None = None) -> DataFrame:
    """Fixed-iteration PageRank over the near-dup candidate graph —
    the document-centrality signal ("how connected is this doc to the
    duplication structure") a curation pipeline uses to spot template
    families that pairwise dedup misses. Symmetric edges from
    minhash_lsh_candidates; uniform init 1/n; dangling mass is NOT
    redistributed (documented divergence from the random-surfer
    normalization — deterministic and cheaper; ranks then need no
    global renormalization step per iteration).

    Exactness across engines: each iteration's incoming sum goes
    through the decimal rule (terms are IEEE divisions of identical
    doubles; the SUM is exact decimal, so parallel aggregation order
    can't move a bit), full precision carried between iterations,
    6dp round only at emission. The oracle unrolls the same fixed
    iterations as chained CTEs.

    Scale: per iteration one join of ranks into edges (both hash-
    partitioned on the source key) + one aggregation by destination —
    the standard Pregel-free SQL PageRank; lineage stays 3 plans deep
    (fixed n_iter), so no checkpointing is needed. The rank state is
    |docs| rows, never driver-side."""
    from ..derive import DEC
    cands = (minhash_lsh_candidates(docs) if cands is None
             else cands).select("doc_a", "doc_b")
    edges = iter_checkpoint(
        cands.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst"))
        .unionByName(cands.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst"))),
        eager=True)   # one LSH materialization
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # degree is loop-INVARIANT: join it into the edge list once and
    # checkpoint, so each runtime iteration is one join + one
    # aggregation over the materialized weighted edges instead of
    # re-deriving edges ⋈ deg (and the LSH pipeline behind it).
    # EAGER — the 10-iteration plan references this frame once
    # per round, and a lazy localCheckpoint re-ran its subplan per
    # consumer inside the one final action (quiet interleaved A/B
    # min 5.19 s lazy vs 4.00 s eager at sf0.1; same pattern measured
    # on kcore 3.92→3.49, prefix_filter 5.36→4.38, weighted_jaccard
    # 6.36→5.60)
    edges_w = iter_checkpoint(
        edges.join(deg, "src").select("src", "dst", "deg"),
        eager=True)
    total = docs.agg(F.count(F.lit(1)).alias("_n"))
    base = (docs.select("doc_id").crossJoin(F.broadcast(total)))
    ranks = base.select("doc_id", "_n",
                        (F.lit(1.0) / F.col("_n")).alias("rank"))
    for _ in range(n_iter):
        contrib = (edges_w
                   .join(ranks.select(F.col("doc_id").alias("src"), "rank"),
                         "src")
                   .select("dst", (F.col("rank") / F.col("deg")).alias("_t")))
        incoming = contrib.groupBy("dst").agg(
            F.sum(F.col("_t").cast(DEC)).cast("double").alias("_in"))
        ranks = (base.join(incoming,
                           base.doc_id == incoming.dst, "left")
                 .select(base.doc_id.alias("doc_id"), "_n",
                         ((1.0 - damping) / F.col("_n")
                          + damping * F.coalesce(F.col("_in"), F.lit(0.0)))
                         .alias("rank")))
    return (ranks
            .join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("deg", F.lit(0)).alias("degree"),
                    F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("doc_id")))


TRIANGLE_MIN_BANDS = 2


def triangle_stats(docs: DataFrame,
                   min_bands: int = TRIANGLE_MIN_BANDS,
                   cands: DataFrame | None = None) -> DataFrame:
    """Triangle census of the STRONG near-dup graph (pairs agreeing in
    ≥ min_bands LSH bands): edge/wedge/triangle counts and the global
    clustering coefficient — the structural signal that separates
    template families (near-cliques, coefficient → 1) from chance
    collisions (sparse, → 0).

    The band-agreement floor is the graph-size knob: it cuts the edge
    set ~50× here (409k → 7.5k at sf0.1), which bounds the wedge join
    — the standard trick before any O(wedges) graph algorithm.

    Plan: triangles via the canonical two-hop join — edges(a<b) ⋈
    edges(b<c) builds wedges, a semi-join against edges(a,c) closes
    them; all joins hash-partition on a single doc key. Wedge count is
    Σ C(deg,2) on the degree table (integer-exact, no join). One
    summary row out."""
    e = iter_checkpoint(
        (minhash_lsh_candidates(docs) if cands is None else cands)
        .filter(F.col("n_bands") >= min_bands)
        .select("doc_a", "doc_b"),
        eager=True)      # one LSH materialization
    deg = (e.select(F.col("doc_a").alias("v"))
           .unionByName(e.select(F.col("doc_b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    wedges = deg.agg(
        F.sum((F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint"))
         .alias("n_wedges"))
    two_hop = (e.alias("e1")
               .join(e.alias("e2"),
                     F.col("e1.doc_b") == F.col("e2.doc_a"))
               .select(F.col("e1.doc_a").alias("a"),
                       F.col("e1.doc_b").alias("b"),
                       F.col("e2.doc_b").alias("c")))
    tri = (two_hop.join(e, (two_hop.a == e.doc_a) & (two_hop.c == e.doc_b),
                        "left_semi")
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (n_edges.crossJoin(wedges).crossJoin(tri)
            .select("n_edges", "n_wedges", "n_triangles",
                    F.when(F.col("n_wedges") > 0,
                           F.round(3.0 * F.col("n_triangles")
                                   / F.col("n_wedges"), 6))
                     .otherwise(F.lit(0.0)).alias("clustering_coef")))


def source_overlap(docs: DataFrame,
                   clusters: DataFrame | None = None) -> DataFrame:
    """Inter-source contamination matrix: for every source pair, how
    many near-dup CLUSTERS span both sources and how many cross-source
    doc pairs they induce — the corpus-governance report that tells a
    pipeline which feeds are re-crawling each other (and which
    "independent" eval source actually leaks into train feeds).

    Never materializes cross pairs: per-(cluster, source) counts first
    (linear), then Σ cnt_a·cnt_b over the per-cluster source pairs —
    the count-then-multiply factorization, so a 10⁶-doc template
    cluster contributes one row per source, not 10¹² pairs. On top of
    dedup_clusters (which dominates), one |docs|-row join for the
    source column + two small aggregations.

    Returns (source_a, source_b, n_clusters, n_doc_pairs), cross
    pairs only (source_a < source_b), ordered. `clusters` — optional
    precomputed dedup_clusters result (see curation_pipeline)."""
    g = ((dedup_clusters(docs) if clusters is None else clusters)
         .join(docs.select("doc_id", "source"), "doc_id")
         .groupBy("cluster_id", "source")
         .agg(F.count(F.lit(1)).alias("cnt")))
    a = g.select("cluster_id", F.col("source").alias("source_a"),
                 F.col("cnt").alias("cnt_a"))
    b = g.select("cluster_id", F.col("source").alias("source_b"),
                 F.col("cnt").alias("cnt_b"))
    return (a.join(b, "cluster_id")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum(F.col("cnt_a") * F.col("cnt_b"))
                  .cast("long").alias("n_doc_pairs"))
            .orderBy("source_a", "source_b"))


def source_quality_report(docs: DataFrame,
                          verdict: DataFrame | None = None) -> DataFrame:
    """Per-SOURCE curation dashboard: for every feed, how many docs
    survive the full corpus_prune verdict and how many fall to each
    stage (exact dup / near dup / quality) — the report that decides
    which crawl feeds get re-negotiated, deprioritized, or dropped in
    a training-data program. The per-source twin of prune_report
    (which aggregates globally by reason).

    Scale shape on top of corpus_prune (which dominates): one
    |docs|-row join for the source column and one |sources|-row
    conditional aggregate with map-side partials — counts, not rows,
    cross the final exchange. kept_pct is the only emitted float: an
    integer-ratio division ROUNDed to 6dp (bit-deterministic).

    Returns (source, n_docs, n_kept, n_exact_dup, n_near_dup,
    n_quality, kept_pct), ordered by source. `verdict` — optional
    precomputed corpus_prune result (see curation_pipeline)."""
    verdict = (corpus_prune(docs) if verdict is None else verdict).join(
        docs.select("doc_id", "source"), "doc_id")
    cnt = lambda r: F.sum(  # noqa: E731
        F.when(F.col("reason") == r, 1).otherwise(0)).cast("long")
    return (verdict.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 cnt("kept").alias("n_kept"),
                 cnt("exact_dup").alias("n_exact_dup"),
                 cnt("near_dup").alias("n_near_dup"),
                 cnt("quality").alias("n_quality"))
            .withColumn("kept_pct",
                        F.round(F.col("n_kept").cast("double")
                                / F.col("n_docs"), 6))
            .orderBy("source"))


KCORE_K = 3
KCORE_ROUNDS = 4


def kcore(docs: DataFrame, k: int = KCORE_K,
          rounds: int = KCORE_ROUNDS,
          cands: DataFrame | None = None) -> DataFrame:
    """k-core peeling over the near-dup candidate graph: repeatedly
    drop nodes with degree < k (and their edges) for a FIXED number
    of rounds — the density filter that separates genuine template
    families (dense quasi-cliques survive) from incidental LSH
    collisions (tree-ish fringe peels away). The fourth member of the
    graph family here (connected components, PageRank, triangle
    census, k-core).

    Fixed `rounds` instead of peel-to-fixpoint: the DuckDB twin
    unrolls the same rounds as chained CTEs (the kmeans_train rule —
    iteration count pinned so both engines execute the identical
    computation); near-dup graphs peel to stability in 2-3 rounds in
    practice, and survivors of round R with unstable degree would
    peel identically in both engines anyway.

    Scale shape: per round one degree aggregation (count per node
    over surviving symmetric edges — map-side combine) + one
    semi-join of edges against surviving nodes on EACH endpoint;
    edges go through iter_checkpoint each round so lineage stays O(1)
    (reliable checkpoint() when a checkpoint dir is set — cluster
    mode — else localCheckpoint). Rounds are driver-coordinated like
    min_label_components.

    Returns (doc_id, degree) for nodes still alive after `rounds`
    peels, with their degree in the surviving subgraph."""
    cands = (minhash_lsh_candidates(docs) if cands is None
             else cands).select("doc_a", "doc_b")
    edges = iter_checkpoint(
        cands.unionByName(
            cands.select(F.col("doc_b").alias("doc_a"),
                         F.col("doc_a").alias("doc_b"))),
        eager=True)
    for _ in range(rounds):
        deg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("doc_a")
        edges = iter_checkpoint(
            edges
            .join(alive, "doc_a", "left_semi")
            .join(alive.select(F.col("doc_a").alias("doc_b")),
                  "doc_b", "left_semi"),
            eager=True)
    return (edges.groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .filter(F.col("degree") >= k)
            .orderBy("doc_id"))


def dup_inflation(docs: DataFrame,
                  verdict: DataFrame | None = None) -> DataFrame:
    """Token-weighted redundancy per source: total whitespace tokens
    vs tokens in documents the corpus_prune verdict KEEPS — the
    budget-relevant companion to source_quality_report (doc counts
    mislead when dup docs are systematically longer or shorter; what
    a training run pays for is tokens). inflation = total/kept
    tokens, the multiplier a naive per-source token budget overstates
    the feed by.

    One |docs|-row join of the prune verdict to row-local token
    counts, one |sources|-row conditional aggregate; exact integer
    sums, ONE final IEEE division ROUNDed 6dp (NULL when a feed
    keeps nothing). `verdict` — optional precomputed corpus_prune
    result (see curation_pipeline)."""
    from .text import tokens_col
    verdict = (corpus_prune(docs) if verdict is None
               else verdict).select("doc_id", "kept")
    toks = docs.select(
        "doc_id", "source",
        F.size(tokens_col()).cast("long").alias("_n_tok"))
    return (toks.join(verdict, "doc_id")
            .groupBy("source")
            .agg(F.sum("_n_tok").cast("long").alias("tokens_total"),
                 F.sum(F.when(F.col("kept"), F.col("_n_tok"))
                        .otherwise(0)).cast("long").alias("tokens_kept"))
            .withColumn("inflation",
                        F.when(F.col("tokens_kept") > 0,
                               F.round(F.col("tokens_total").cast("double")
                                       / F.col("tokens_kept"), 6)))
            .orderBy("source"))


def curation_pipeline(docs: DataFrame,
                      train_pct: int = 80,
                      val_pct: int = 10) -> dict[str, DataFrame]:
    """Pipeline mode for the curation composites: compute the two
    expensive shared intermediates ONCE — the near-dup clusters
    (LSH + connected components) and the corpus_prune verdict — and
    derive every report from them, mirroring the positions_state
    incremental-view pattern (relational.py: state computed once,
    read-side views consume it).

    Standalone, each composite re-derives the whole MinHash pipeline
    (correct, oracle-paired, but at 100 TB five consumers would pay
    the dedup cost five times — the dominant stage). Here:

      clusters = dedup_clusters(docs)        (checkpointed: LSH + CC
                                              execute exactly once)
      verdict  = corpus_prune(docs, clusters) (checkpointed: exact +
                                              near + quality joins
                                              execute exactly once)

    and the consumers (`leakage_safe_split`, `source_overlap`,
    `prune_report`, `source_quality_report`, `dup_inflation`,
    `canonical_docs`) are cheap reads over those two frames — each a
    |docs|-row join plus a small aggregate.

    Materialization is `iter_checkpoint` (reliable checkpoint() on a
    cluster with a checkpoint dir, localCheckpoint() locally); in a
    productionized run the two intermediates would instead be written
    to warehouse tables (the io.upsert path) so reports can run in
    later jobs without recomputing.

    Returns the dict of all outputs; each value is bit-identical to
    its standalone form (asserted in tests/test_curation_pipeline.py).
    """
    band_keys = iter_checkpoint(minhash_band_keys(docs), eager=False)
    cands = iter_checkpoint(
        minhash_lsh_candidates(docs, band_keys=band_keys), eager=False)
    clusters = iter_checkpoint(
        dedup_clusters(docs, band_keys=band_keys), eager=False)
    verdict = iter_checkpoint(corpus_prune(docs, clusters=clusters),
                              eager=False)
    return {
        "band_keys": band_keys,
        "cands": cands,
        "clusters": clusters,
        "verdict": verdict,
        "canonical_docs": canonical_docs(docs, clusters=clusters),
        "corpus_prune": verdict,
        "leakage_safe_split": leakage_safe_split(
            docs, train_pct, val_pct, clusters=clusters),
        "source_overlap": source_overlap(docs, clusters=clusters),
        "prune_report": prune_report(docs, verdict=verdict),
        "source_quality_report": source_quality_report(
            docs, verdict=verdict),
        "dup_inflation": dup_inflation(docs, verdict=verdict),
    }


DELTA_MOD = 10         # demo delta split: doc_id % 10 == 9 is the
DELTA_REM = 9          # newly-ingested batch; the rest is the corpus


def delta_dedup(docs: DataFrame, mod: int = DELTA_MOD,
                rem: int = DELTA_REM,
                bucket_cap: int = MINHASH_BUCKET_CAP,
                band_keys: DataFrame | None = None) -> DataFrame:
    """Incremental dedup of a DELTA batch against the existing corpus
    — the operational dedup shape for continuously-ingested corpora:
    a crawl lands a new batch every few hours, and re-running the
    full-corpus pairwise dedup per batch is O(corpus) work for an
    O(delta) question ("which of the NEW docs duplicate something we
    already have?").

    Here the corpus/delta split is the deterministic demo rule
    doc_id % mod == rem (the delta); in production the corpus side is
    a PERSISTED signature index — minhash_band_keys written once,
    bucketed/partitioned by (band, band_key) — and each batch:

      1. computes band keys for the delta only (O(delta) map work,
         the sha256 shingle scan never touches the corpus);
      2. equi-joins delta keys into the corpus index on
         (band, band_key) — bucket-local, no shuffle of the corpus
         when the index is bucketed; a small delta broadcasts;
      3. appends the delta's own keys to the index for the next batch.

    Corpus buckets larger than `bucket_cap` are dropped before the
    join (the MINHASH_BUCKET_CAP rule: oversized buckets are
    boilerplate families, not pairwise signal — and here they would
    fan every colliding delta doc out |bucket|-fold).

    Emits one row PER DELTA DOC: how many distinct corpus docs it
    collides with, the smallest such doc_id (the doc a keep-first
    policy would point the duplicate at), and is_new for docs with no
    collision (the ones the batch actually adds).
    Returns (doc_id, n_matches, first_match, is_new) ordered.
    """
    # one materialization of the signature pipeline: the corpus and
    # delta branches would otherwise each re-run the sha256 shingle
    # scan (in production they are separate inputs — the persisted
    # index and the new batch — so neither recompute exists at all)
    bk = (iter_checkpoint(minhash_band_keys(docs), eager=True)
          if band_keys is None else band_keys)
    corpus = bk.filter(F.col("doc_id") % mod != rem)
    delta = bk.filter(F.col("doc_id") % mod == rem)
    w = W.partitionBy("band", "band_key")
    corpus_kept = (corpus
                   .withColumn("_bc", F.count(F.lit(1)).over(w))
                   .filter(F.col("_bc") <= bucket_cap)
                   .select("band", "band_key",
                           F.col("doc_id").alias("corpus_id")))
    pairs = (delta.select("band", "band_key",
                          F.col("doc_id").alias("delta_id"))
             .join(corpus_kept, ["band", "band_key"])
             .select("delta_id", "corpus_id").distinct())
    agg = (pairs.groupBy("delta_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_matches"),
                F.min("corpus_id").alias("first_match")))
    delta_docs = (docs.filter(F.col("doc_id") % mod == rem)
                  .select("doc_id"))
    return (delta_docs
            .join(agg, delta_docs.doc_id == agg.delta_id, "left")
            .select("doc_id",
                    F.coalesce("n_matches", F.lit(0).cast("long"))
                     .alias("n_matches"),
                    "first_match",
                    F.col("n_matches").isNull().alias("is_new"))
            .orderBy("doc_id"))


def curation_serve(docs: DataFrame, index_path: str) -> DataFrame:
    """Production STEADY-STATE of the curation spine: serve verified
    near-dup pairs from the PERSISTED band-key index instead of
    recomputing the MinHash signature stage per report. The
    nightly/ingest job materializes `minhash_band_keys(docs)` to
    parquet (delta_dedup's step 3 — in this repo, `_curation` in
    __spark_entry__.py writes it as part of the one-time
    `_curation_build` line item); every downstream
    consumer then pays only: one scan of the |docs|×B-row index
    (partitioned on (band, band_key) — bucket-local candidate join,
    SCALING.md measured 1.7 s for the full 409k-candidate set at
    sf0.1 from a fresh session) plus the candidate-bounded exact
    verify. The sha256 shingle signature scan — the dominant cost of
    the cold build — never runs on the serve path.

    Output and oracle are IDENTICAL to minhash_verified (bit-exact:
    the index is the same frame the in-session pipeline computes),
    so the DuckDB twin is the same SQL."""
    spark = docs.sparkSession
    idx = spark.read.parquet(index_path)
    cands = minhash_lsh_candidates(docs, band_keys=idx)
    return minhash_verified(docs, cands=cands)


SUBSTR_NGRAM = 8       # token n-gram width (the match unit)
SUBSTR_MIN_RUN = 16    # min shared run, in TOKENS, to report a pair
SUBSTR_DF_CAP = 64     # drop n-grams present in more docs (boilerplate)


def common_substring_pairs(docs: DataFrame,
                           n: int = SUBSTR_NGRAM,
                           min_run: int = SUBSTR_MIN_RUN,
                           df_cap: int = SUBSTR_DF_CAP) -> DataFrame:
    """Exact shared-substring detection between document pairs — the
    distributed form of suffix-array substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models
    Better"): find doc pairs sharing a VERBATIM run of >= `min_run`
    tokens. Jaccard-style dedup misses these (a long quote inside two
    otherwise-different docs barely moves set overlap); substring
    dedup is the standard second pass in pretraining curation.

    A suffix array is inherently sequential; the scalable
    re-expression is positional n-gram anchoring:

      1. every doc emits (pos, hash(tokens[pos : pos+n])) — a pure
         map (the hot loop, one md5 per position);
      2. n-grams occurring in more than `df_cap` docs are dropped —
         boilerplate headers would otherwise drive the anchor join
         quadratic (the same role MINHASH_BUCKET_CAP plays for LSH);
      3. anchor equi-join on the hash (doc_a < doc_b) gives matching
         positions; a shared token run of length L contributes
         L − n + 1 consecutive anchors on one DIAGONAL
         (pos_a − pos_b constant);
      4. runs are recovered with the islands trick per
         (doc_a, doc_b, diagonal): consecutive pos_a values share
         pos_a − row_number(); the longest island of length k is a
         verbatim shared run of k + n − 1 tokens.

    Every stage is a map, a bounded equi-join, or a keyed window —
    no stage is quadratic in corpus size, only in per-n-gram document
    frequency (explicitly capped). The DuckDB oracle mirrors the
    identical anchoring, so results are bit-equal.

    Returns (doc_a, doc_b, max_run_tokens, n_shared_ngrams) for pairs
    whose longest verbatim run reaches `min_run`, ordered.
    """
    from .text import tokens_col
    from ..functions.partitioning import spread
    grams_expr = F.expr(
        f"CASE WHEN size(_t) >= {n} THEN"
        f" transform(sequence(1, size(_t) - {n - 1}),"
        f"           i -> struct(i AS pos,"
        f"                       md5(concat_ws(' ', slice(_t, i, {n})))"
        f"                       AS gh))"
        f" ELSE array() END")
    g = (spread(docs, "doc_id")
         .select("doc_id", tokens_col().alias("_t"))
         .select("doc_id", F.explode(grams_expr).alias("g"))
         .select("doc_id", F.col("g.pos").alias("pos"),
                 F.col("g.gh").alias("gh")))
    # document-frequency cap: count DISTINCT docs per n-gram
    df = (g.select("gh", "doc_id").distinct()
          .groupBy("gh").agg(F.count(F.lit(1)).alias("_df")))
    kept = g.join(df.filter(F.col("_df") <= df_cap).select("gh"), "gh")
    a = kept.select(F.col("doc_id").alias("doc_a"),
                    F.col("pos").alias("pa"), "gh")
    b = kept.select(F.col("doc_id").alias("doc_b"),
                    F.col("pos").alias("pb"), "gh")
    hits = (a.join(b, "gh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "pa", "pb",
                    (F.col("pa") - F.col("pb")).alias("diag")))
    w_run = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (hits
            .withColumn("_grp", F.col("pa") - F.row_number().over(w_run))
            .groupBy("doc_a", "doc_b", "diag", "_grp")
            .agg(F.count(F.lit(1)).alias("_run")))
    return (runs.groupBy("doc_a", "doc_b")
            .agg((F.max("_run") + (n - 1)).cast("long")
                 .alias("max_run_tokens"),
                 F.sum("_run").cast("long").alias("n_shared_ngrams"))
            .filter(F.col("max_run_tokens") >= min_run)
            .orderBy("doc_a", "doc_b"))


SIMHASH_PAIR_BITS = 32     # fingerprint width for PAIRING (16-bit —
# the standalone `simhash` query's width — saturates by
# the birthday bound once |docs| approaches 2^8: at sf0.1's 5000 docs
# it emitted 1.5M hamming<=2 pairs, almost all chance collisions. 32
# bits keeps chance pairs negligible at oracle scales; production
# web-dedup uses 64 bits for the same reason — Manku et al. WWW'07.
# The standalone query now emits the same 32-bit fingerprint.
SIMHASH_BANDS = 4          # 8-bit bands over the 32-bit fingerprint
SIMHASH_MAX_HAMMING = 2    # report pairs within this bit distance


def simhash_pairs(docs: DataFrame,
                  bits: int = SIMHASH_PAIR_BITS,
                  n_bands: int = SIMHASH_BANDS,
                  max_hamming: int = SIMHASH_MAX_HAMMING,
                  bucket_cap: int = MINHASH_BUCKET_CAP) -> DataFrame:
    """SimHash near-dup PAIRS — the retrieval half of the SimHash
    method (Charikar 2002; Manku-Jain-Sarma WWW'07 web-dedup): docs
    whose fingerprints differ in at most `max_hamming` bits. By the
    pigeonhole principle a pair within distance d agrees EXACTLY on
    at least one of d+1 disjoint bit-bands (here d=2 < 4 bands), so
    candidates come from equality joins on banded fingerprint slices
    — the Manku table-lookup scheme as a band-key shuffle join, never
    an O(n²) comparison. The exact hamming distance (bit_count of
    xor) then verifies candidates, mirroring every other
    candidates→verify pipeline in this module.

    Scale: one fingerprint map (simhash — zero-shuffle), one
    band-key equi-join bounded by per-band bucket sizes, one
    row-local popcount verify. The fingerprint width is the bucket-
    space knob (see SIMHASH_PAIR_BITS): band space must grow with the
    corpus or chance collisions saturate the join — the same adaptive
    rule as embedding_near_dup's band planes; production web-dedup
    runs 64-bit fingerprints with 16-bit bands.

    Returns (doc_a, doc_b, hamming), ordered."""
    band_width = bits // n_bands
    fp = simhash(docs, bits=bits)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 (F.shiftright(F.col("simhash"), b * band_width)
                  % (1 << band_width)).alias("bkey"))
        for b in range(n_bands)])
    bk = (fp.select("doc_id", "simhash", F.explode(bands).alias("b"))
          .select("doc_id", "simhash",
                  F.col("b.band").alias("band"),
                  F.col("b.bkey").alias("bkey")))
    # bucket cap (the MINHASH_BUCKET_CAP rule): a band bucket bigger
    # than this is a mass-duplication family — pair enumeration there
    # is quadratic by definition; clusters that big belong to
    # dedup_clusters. Mirrored in the oracle (QUALIFY), so results
    # agree at every sf.
    w_cap = W.partitionBy("band", "bkey")
    bk = (bk.withColumn("_bsz", F.count(F.lit(1)).over(w_cap))
          .filter(F.col("_bsz") <= bucket_cap).drop("_bsz"))
    a = bk.select(F.col("doc_id").alias("doc_a"),
                  F.col("simhash").alias("_fa"), "band", "bkey")
    b = bk.select(F.col("doc_id").alias("doc_b"),
                  F.col("simhash").alias("_fb"), "band", "bkey")
    return (a.join(b, ["band", "bkey"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.expr("bit_count(_fa ^ _fb)").cast("int")
                     .alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming)
            .orderBy("doc_a", "doc_b"))


def near_dup_edit_stats(docs: DataFrame,
                        threshold: float = JACCARD_THRESHOLD,
                        cands: DataFrame | None = None,
                        pairs: DataFrame | None = None) -> DataFrame:
    """Second-opinion verification of near-dup pairs by EDIT distance:
    for every minhash_verified pair, the exact Levenshtein distance
    between the two texts and the length ratio — the signal that
    separates true revisions (small absolute edits) from
    shingle-coincidental pairs, and the final human-review column a
    curation dashboard shows next to Jaccard.

    Scale: Levenshtein is O(len²) per pair — affordable ONLY because
    the input is the candidate-bounded verified pair set, never the
    corpus (the same bounded-verifier rule as the exact-Jaccard
    step). Two doc_id hash joins fetch the texts; the DP runs
    row-local inside codegen.

    Cross-engine unit mismatch: Spark's levenshtein counts CODEPOINT
    edits while DuckDB's counts BYTE edits (they disagree on any
    multi-byte character, e.g. 'é'→'e' is 1 vs 2). Both texts are
    therefore ASCII-PROJECTED first — every non-ASCII codepoint
    becomes '?' identically in both engines — making byte and
    codepoint distances coincide; the emitted stat is the edit
    distance of the ASCII projection (documented unit).

    `pairs` — optional precomputed minhash_verified result (the
    shared-state rule); `cands` feeds the verify pipeline otherwise.
    Returns (doc_a, doc_b, jaccard, lev_dist, len_ratio) ordered."""
    if pairs is None:
        pairs = minhash_verified(docs, threshold, cands=cands)
    ascii_ = lambda c: F.regexp_replace(  # noqa: E731
        F.col(c), r"[^\x00-\x7F]", "?")
    ta = docs.select(F.col("doc_id").alias("doc_a"),
                     ascii_("text").alias("_ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"),
                     ascii_("text").alias("_tb"))
    return (pairs.join(ta, "doc_a").join(tb, "doc_b")
            .select("doc_a", "doc_b", "jaccard",
                    F.levenshtein("_ta", "_tb").cast("long")
                     .alias("lev_dist"),
                    F.round(F.least(F.length("_ta"), F.length("_tb"))
                            .cast("double")
                            / F.greatest(F.length("_ta"),
                                         F.length("_tb")), 6)
                     .alias("len_ratio"))
            .orderBy("doc_a", "doc_b"))


SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9, 1.0)


def dedup_threshold_sweep(docs: DataFrame,
                          thresholds=SWEEP_THRESHOLDS,
                          cands: DataFrame | None = None,
                          pairs: DataFrame | None = None,
                          pairs_threshold: float = JACCARD_THRESHOLD,
                          ) -> DataFrame:
    """Dedup yield curve — how many near-dup pairs (and how many
    distinct documents) survive each candidate Jaccard threshold: the
    tuning report that picks the production cutoff (too low deletes
    paraphrases, too high keeps templates; the curve's knee is the
    usual operating point).

    One verify pass at the LOWEST threshold gives every pair's exact
    Jaccard; the sweep is then a broadcast join of the tiny threshold
    list against the bounded pair set — no per-threshold rescans.
    Thresholds with zero surviving pairs still emit a row (left join
    from the threshold list). Both engines compare the identical
    jaccard double to the identically-parsed literal, so the cut
    agrees bit-for-bit even for non-representable thresholds.

    `pairs` — optional precomputed minhash_verified frame;
    `pairs_threshold` — the threshold those pairs were verified at
    (default JACCARD_THRESHOLD, the curation pipeline's). A sweep is
    only complete when the pair set covers its LOWEST threshold, so a
    precomputed frame verified above min(thresholds) would silently
    under-count low-threshold rows — that is rejected loudly here
    rather than trusted.

    Returns (threshold, n_pairs, n_docs) ordered by threshold."""
    spark = docs.sparkSession
    if pairs is None:
        pairs = minhash_verified(docs, min(thresholds), cands=cands)
    elif pairs_threshold > min(thresholds):
        raise ValueError(
            f"precomputed pairs verified at {pairs_threshold} cannot "
            f"serve a sweep down to {min(thresholds)}: low-threshold "
            "rows would silently under-count. Pass pairs verified at "
            "<= min(thresholds), or let the sweep verify its own.")
    th = spark.createDataFrame([(float(t),) for t in thresholds],
                               "threshold double")
    # one aggregate over the surviving pairs' endpoints: every pair
    # yields exactly two endpoint rows, so n_pairs is their count div 2
    # (two aggregates over the pairs would run the verify tail twice)
    counts = (pairs.crossJoin(F.broadcast(th))
              .filter(F.col("jaccard") >= F.col("threshold"))
              .select("threshold",
                      F.explode(F.array("doc_a", "doc_b")).alias("d"))
              .groupBy("threshold")
              .agg(F.expr("count(1) div 2").alias("n_pairs"),
                   F.count_distinct("d").cast("long").alias("n_docs")))
    return (th.join(counts, "threshold", "left")
            .select("threshold",
                    F.coalesce("n_pairs", F.lit(0).cast("long"))
                     .alias("n_pairs"),
                    F.coalesce("n_docs", F.lit(0).cast("long"))
                     .alias("n_docs"))
            .orderBy("threshold"))


def doc_containment(docs: DataFrame,
                    n: int = SUBSTR_NGRAM,
                    min_run: int = SUBSTR_MIN_RUN,
                    df_cap: int = SUBSTR_DF_CAP) -> DataFrame:
    """Verbatim CONTAINMENT detection: pairs where one document's
    entire token stream appears verbatim inside the other — the
    quote-inclusion/page-wrapper case that set-similarity dedup
    scores low (a short doc inside a long one barely moves Jaccard)
    but that a curation pipeline must collapse.

    Derived from the substring machinery: a pair whose longest shared
    run covers the SHORTER document's full token count is a
    containment. Detection floor: the contained doc must have at
    least `min_run` tokens (shorter docs fall below the anchor
    pipeline's reporting floor — documented bound).

    Returns (contained_doc, container_doc, n_tokens_contained,
    container_tokens) ordered."""
    from .text import tokens_col
    runs = common_substring_pairs(docs, n, min_run, df_cap)
    nt = docs.select("doc_id",
                     F.size(tokens_col()).cast("long").alias("_nt"))
    j = (runs
         .join(nt.select(F.col("doc_id").alias("doc_a"),
                         F.col("_nt").alias("_na")), "doc_a")
         .join(nt.select(F.col("doc_id").alias("doc_b"),
                         F.col("_nt").alias("_nb")), "doc_b")
         .filter(F.col("max_run_tokens")
                 >= F.least("_na", "_nb")))
    contained = F.when(F.col("_na") <= F.col("_nb"), F.col("doc_a")) \
                 .otherwise(F.col("doc_b"))
    container = F.when(F.col("_na") <= F.col("_nb"), F.col("doc_b")) \
                 .otherwise(F.col("doc_a"))
    return (j.select(contained.alias("contained_doc"),
                     container.alias("container_doc"),
                     F.least("_na", "_nb").alias("n_tokens_contained"),
                     F.greatest("_na", "_nb").alias("container_tokens"))
            .orderBy("contained_doc", "container_doc"))


def minhash_estimate_error(docs: DataFrame,
                           pairs: DataFrame | None = None,
                           n_seeds: int = MINHASH_SEEDS) -> DataFrame:
    """Sketch-accuracy audit: per verified near-dup pair, the MinHash
    SIGNATURE estimate of Jaccard (fraction of agreeing per-seed
    minima — the unbiased estimator the LSH stage implicitly trusts)
    against the EXACT shingle Jaccard minhash_verified computed. The
    report every pipeline needs before tuning seeds/bands: if |err|
    is wide at the operating threshold, the band recall math is off.

    Scale shape: signatures are the per-row zero-shuffle map
    (_signature_wide); the audit joins them to the (already bounded)
    verified-pair list twice by doc id — |pairs| rows end-to-end, no
    new corpus-sized stage. With `pairs` from the shared curation
    state the whole audit is incremental to the pipeline run.

    Determinism: minima are exact BIGINTs, n_match an exact count;
    est = n_match/k and err = est − jaccard are single IEEE ops on
    engine-identical doubles, emitted unrounded.
    """
    pairs = (minhash_verified(docs) if pairs is None else pairs) \
        .select("doc_a", "doc_b", "jaccard")
    wide = _signature_wide(docs, n_seeds)
    a = wide.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"h{s}").alias(f"_a{s}") for s in range(n_seeds)])
    b = wide.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"h{s}").alias(f"_b{s}") for s in range(n_seeds)])
    n_match = sum(
        F.when(F.col(f"_a{s}") == F.col(f"_b{s}"), 1).otherwise(0)
        for s in range(n_seeds)).cast("long")
    est = F.col("n_match").cast("double") / n_seeds
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", "jaccard", n_match.alias("n_match"))
            .select("doc_a", "doc_b", "jaccard", "n_match",
                    est.alias("est_jaccard"),
                    (est - F.col("jaccard")).alias("err"))
            .orderBy("doc_a", "doc_b"))


def kfold_leakage_report(docs: DataFrame,
                         clusters: DataFrame | None = None,
                         k: int | None = None) -> DataFrame:
    """Cross-validation contamination audit: for every near-dup
    CLUSTER (connected component of the LSH candidate graph), how many
    distinct k-folds its members land in. stratified_kfold's
    round-robin deal optimizes per-source BALANCE, not co-location —
    byte-identical docs get adjacent per-source ranks and therefore
    land in DIFFERENT folds by construction, and near-duplicates hash
    apart just the same — so every duplicate family straddles folds
    and silently inflates CV scores unless the corpus was deduped
    first. leakage_safe_split FIXES this for train/val/test (cluster-
    granular assignment); this operator MEASURES it for k-fold, the
    audit you run before trusting a fold-averaged metric.

    Scale shape: both inputs are |docs|-row frames (clusters from the
    shared curation state — the LSH stage is not re-run); the report
    is one cluster-keyed aggregation. Returns one row per multi-member
    cluster: (cluster_id, cluster_size, n_folds, leaky), exact
    integers only.
    """
    from .packing import KFOLDS, stratified_kfold
    clusters = dedup_clusters(docs) if clusters is None else clusters
    folds = stratified_kfold(docs, k or KFOLDS)
    return (clusters.join(folds.select("doc_id", "fold"), "doc_id")
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.count_distinct("fold").alias("n_folds"))
            .filter(F.col("cluster_size") >= 2)
            .select("cluster_id",
                    F.col("cluster_size").cast("long").alias("cluster_size"),
                    F.col("n_folds").cast("long").alias("n_folds"),
                    (F.col("n_folds") > 1).alias("leaky"))
            .orderBy("cluster_id"))


def lsh_recall_curve(spark_or_docs, n_seeds: int = MINHASH_SEEDS) -> DataFrame:
    """LSH banding design table: candidate recall P(candidate | J=j)
    = 1 − (1 − j^r)^b for every (b, r) factorization of the K=8
    signature and a j grid — the S-curve every MinHash deployment is
    tuned against (Leskovec/Rajaraman/Ullman, MMDS ch.3). The engine's
    own operating point (b=4, r=2) sits in this table; the audit
    companion is minhash_estimate_error (measured) vs this (designed).

    Pure generated computation — a literal (config × j) grid built
    with sequence/explode, no table scan, no shuffle; at any corpus
    size this is O(1). pow() is libm (1-ulp variance), so recall is
    round-6 — the exp/ln rule.

    Accepts a SparkSession or any DataFrame (for queries() symmetry).
    Returns (n_bands, rows_per_band, j, recall) ordered.
    """
    spark = getattr(spark_or_docs, "sparkSession", spark_or_docs)
    rows = []
    r = 1
    while r <= n_seeds:
        if n_seeds % r == 0:
            rows.append((n_seeds // r, r))
        r *= 2
    grid = spark.createDataFrame(rows, "n_bands int, rows_per_band int")
    j = F.col("_i").cast("double") / 10
    recall = 1 - F.pow(1 - F.pow(j, F.col("rows_per_band")),
                       F.col("n_bands"))
    return (grid.select("*", F.explode(F.sequence(F.lit(1), F.lit(9)))
                        .alias("_i"))
            .select("n_bands", "rows_per_band",
                    F.round(j, 1).alias("j"),
                    F.round(recall, 6).alias("recall"))
            .orderBy("n_bands", "rows_per_band", "j"))


def rouge_overlap_pairs(docs: DataFrame,
                        threshold: float = JACCARD_THRESHOLD,
                        cands: DataFrame | None = None,
                        pairs: DataFrame | None = None) -> DataFrame:
    """ROUGE-1-style unigram overlap for every verified near-dup pair
    — the third verification lens next to exact Jaccard (shingle
    sets) and Levenshtein (near_dup_edit_stats): precision / recall /
    F1 over DISTINCT word unigrams, the summary-overlap statistic
    (Lin 2004, set form) a curation review uses to tell "same words,
    reordered" from "same characters, different words". doc_a is the
    reference side, doc_b the candidate side; set semantics (distinct
    unigrams) are the documented unit, so the three scores are
    single-division IEEE doubles any engine reproduces bit-exactly.

    Scale: like the edit-stats pass, cost is bounded by the VERIFIED
    pair set, never the corpus — two doc_id hash joins ship each
    pair's distinct-token array once, and the intersection runs
    row-local inside codegen (array_intersect on in-row sets).

    `pairs` — optional precomputed minhash_verified frame (the
    shared-state rule); `cands` feeds the verify pipeline otherwise.
    Returns (doc_a, doc_b, jaccard, n_common_tokens, rouge1_p,
    rouge1_r, rouge1_f1) ordered."""
    from .text import tokens_col
    if pairs is None:
        pairs = minhash_verified(docs, threshold, cands=cands)
    tok = docs.select("doc_id",
                      F.array_distinct(tokens_col()).alias("_ts"))
    ta = tok.select(F.col("doc_id").alias("doc_a"),
                    F.col("_ts").alias("_ta"))
    tb = tok.select(F.col("doc_id").alias("doc_b"),
                    F.col("_ts").alias("_tb"))
    ov = F.size(F.array_intersect("_ta", "_tb")).cast("long")
    na = F.size("_ta").cast("double")
    nb = F.size("_tb").cast("double")
    return (pairs.join(ta, "doc_a").join(tb, "doc_b")
            .select("doc_a", "doc_b", "jaccard",
                    ov.alias("n_common_tokens"),
                    F.round(ov / nb, 6).alias("rouge1_p"),
                    F.round(ov / na, 6).alias("rouge1_r"),
                    F.round(2 * ov / (na + nb), 6).alias("rouge1_f1"))
            .orderBy("doc_a", "doc_b"))
