"""Similarity search over the embeddings table (array<float>):

  cosine_topk      — brute-force cosine top-k vs a query vector; the
                     exact baseline.
  lsh_buckets      — random-hyperplane (sign) LSH bucket assignment;
                     the ANN scale path: candidate set = same bucket.
  embedding_near_dup — pairs of vectors in the same bucket (candidate
                     near-duplicates by embedding cosine).
  ivf_assign/topk  — IVF coarse quantization + probe-one-cell ANN.
  kmeans_step      — one Lloyd iteration of IVF codebook training.

Execution shape: every per-vector kernel (dot product, norm, plane
sum, centroid assignment) is a ROW-LOCAL array computation —
`zip_with` for elementwise products, `aggregate` over exact integer
1e-10 units for the sum (see _agg_units), `transform(arr, (v, i) ->)`
where the kernel needs the position. Zero shuffle: the pos-explode →
groupBy(vec_id) formulation this replaces shuffled 64× the table's
rows to compute what each row already holds (measured 2-35 s → 0.7-
1.9 s per query at sf0.1). The only exchanges left in this module are
the ones the ALGORITHMS require: the LSH bucket self-join and the
k-means re-estimation groupBy(cell, pos).

Determinism: products are computed in DOUBLE (IEEE, bit-identical on
identical inputs in any engine), quantized to DECIMAL(38,10)-unit
integers (exact, so array-order summation here equals DuckDB's
any-order decimal aggregation exactly), divided/rounded once at the
end — the engine-wide decimal-sum rule (derive.py docstring) realized
with a BIGINT accumulator because Spark's lambda-fold decimal
addition widens past precision 38 and would shave the last digit.

Small deterministic integer hyperplanes / first-n-vectors centroids
keep every bucket and cell assignment engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

N_PLANES = 8
N_IVF_CELLS = 8

_UNITS = "10000000000"  # 1e10 = DECIMAL(38,10) fractional units per 1.0


def _agg_units(products_sql: str) -> str:
    """SQL: exact sum of an array of 1e-10-unit BIGINTs.

    Why integer units and not a decimal accumulator: Spark types
    DECIMAL(38,10) + DECIMAL(38,10) as DECIMAL(38,9) — the fold's
    accumulator would shave the 10th fractional digit that DuckDB's
    scale-10 SUM keeps. BIGINT addition is closed and exact; each
    product is first cast to DECIMAL(28,10) (identical value to the
    oracle's DECIMAL(38,10) cast for in-range data), then scaled to
    integer units (an integral value, so the widening multiply is
    lossless)."""
    return f"aggregate({products_sql}, 0L, (acc, x) -> acc + x)"


def _dotu_sql(a: str, b: str) -> str:
    """SQL: Σ aᵢ·bᵢ in exact 1e-10 units (BIGINT)."""
    return _agg_units(
        f"zip_with({a}, {b}, (a, b) -> CAST("
        f"CAST(CAST(a AS DOUBLE) * CAST(b AS DOUBLE) AS DECIMAL(28,10))"
        f" * {_UNITS} AS BIGINT))")


def _dot_sql(a: str, b: str) -> str:
    """SQL: Σ aᵢ·bᵢ as DOUBLE. units→double then one division by an
    exactly-representable 1e10: correctly-rounded, so bit-identical
    to the oracle's CAST(decimal-sum AS DOUBLE)."""
    return f"(CAST({_dotu_sql(a, b)} AS DOUBLE) / 1e10)"


def _norm_sql(a: str) -> str:
    """SQL: |a| = sqrt(Σ aᵢ²) as DOUBLE."""
    return f"SQRT({_dot_sql(a, a)})"


def _spread(emb: DataFrame) -> DataFrame:
    """Local-parallelism guard for the single-split parquet input;
    no-op on a cluster with real splits (functions/partitioning)."""
    from ..functions.partitioning import spread
    return spread(emb, "vec_id")


def _query_row(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """1-row frame (_q, _qnorm) for the query vector — broadcast to
    every row so the dot product is row-local."""
    return (emb.filter(F.col("vec_id") == query_vec_id)
            .select(F.col("embedding").alias("_q"))
            .withColumn("_qnorm", F.expr(_norm_sql("_q"))))


def cosine_topk(emb: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k against the embedding of
    `query_vec_id`. cos = Σaᵢbᵢ / (|a||b|), rounded to 6dp and
    tie-broken by vec_id so the top-k cut is total-ordered.

    Plan: one broadcast (the 1-row query) + a shuffle-free map + a
    TakeOrderedAndProject — linear scan, per-partition heaps, k-row
    merge. The linear-scan exact baseline every ANN variant is
    measured against."""
    base = _spread(emb).crossJoin(F.broadcast(_query_row(emb, query_vec_id)))
    dot = F.expr(_dot_sql("embedding", "_q"))
    norm = F.expr(_norm_sql("embedding"))
    return (base.filter(F.col("vec_id") != query_vec_id)
            .select("vec_id",
                    F.round(dot / (norm * F.col("_qnorm")), 6)
                     .alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(k))


def _plane_sum_sql(h: int) -> str:
    """SQL: Σ_pos w(h,pos)·val — hyperplane h has integer components
    w(h,pos) = ((h·37 + pos·101) mod 19) − 9 (pos is 1-based).
    Integer weights ⇒ exact decimal dot products ⇒ identical signs
    in any engine."""
    return _agg_units(
        f"transform(embedding, (v, i) -> CAST("
        f"CAST(CAST((({h * 37} + (i + 1) * 101) % 19) - 9 AS DOUBLE)"
        f" * CAST(v AS DOUBLE) AS DECIMAL(28,10)) * {_UNITS} AS BIGINT))")


def lsh_buckets(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Sign-LSH: bucket bit h = (Σ w(h,·)·v > 0). All n_planes sums
    and the bit-pack are one row-local projection — no shuffle."""
    bucket = " + ".join(
        f"IF({_plane_sum_sql(h)} > 0, {1 << h}L, 0L)"
        for h in range(n_planes))
    return _spread(emb).select("vec_id", F.expr(bucket).alias("bucket"))


def _centroids_row(emb: DataFrame, n_cells: int) -> DataFrame:
    """1-row frame (_c0.._c{n-1}) of centroid embeddings. Centroids
    are the first `n_cells` vectors (deterministic stand-in for a
    trained codebook — kmeans_step is the training step); the filter
    pushes to the scan, the frame broadcasts."""
    return (emb.filter(F.col("vec_id") < n_cells)
            .groupBy()
            .agg(*[F.first(F.when(F.col("vec_id") == i, F.col("embedding")),
                           ignorenulls=True).alias(f"_c{i}")
                   for i in range(n_cells)]))


def _argmax_cell(n_cells: int):
    """argmax over dot_0..dot_{n-1}, ties to the LOWEST cid (the
    row_number(desc dot, asc cid) tie rule of the join formulation)."""
    best = F.greatest(*[F.col(f"dot_{i}") for i in range(n_cells)])
    cell = F.lit(0)
    for i in reversed(range(n_cells)):
        cell = F.when(F.col(f"dot_{i}") == best, F.lit(i)).otherwise(cell)
    return cell


def _with_centroid_dots(base: DataFrame, n_cells: int,
                        vec_col: str = "embedding") -> DataFrame:
    """Append dot_0..dot_{n-1} = vec·centroid_i as row-local sums;
    `base` must carry _c0.._c{n-1} (from a _centroids_row broadcast)."""
    return base.select("*", *[
        F.expr(_dot_sql(vec_col, f"_c{i}")).alias(f"dot_{i}")
        for i in range(n_cells)])


def ivf_assign(emb: DataFrame, n_cells: int = N_IVF_CELLS) -> DataFrame:
    """IVF coarse quantization: cell = argmax-dot centroid. One
    broadcast + a shuffle-free map — linear, like every IVF build."""
    base = _spread(emb).crossJoin(F.broadcast(_centroids_row(emb, n_cells)))
    return (_with_centroid_dots(base, n_cells)
            .select("vec_id", _argmax_cell(n_cells).alias("cell")))


def kmeans_step(emb: DataFrame, n_cells: int = N_IVF_CELLS) -> DataFrame:
    """One Lloyd iteration of the IVF codebook training: assign every
    vector to its argmax-dot centroid, then emit the new centroids as
    mean-per-(cell, pos) in long form, plus the cell population.

    Distributed k-means is exactly this step iterated: assignment is
    a broadcast map (row-local dots, cell carried WITH the row — no
    assignment join), re-estimation is the one true shuffle
    (groupBy(cell, pos) with map-side partial sums). No driver state
    beyond the loop counter, so it scales to any corpus. Mean = exact
    decimal sum → one IEEE division → round(6): both engines agree
    bit-for-bit (the stats_summary avg pattern)."""
    from ..derive import DEC
    base = _spread(emb).crossJoin(F.broadcast(_centroids_row(emb, n_cells)))
    assigned = (_with_centroid_dots(base, n_cells)
                .select("embedding", _argmax_cell(n_cells).alias("cell")))
    pe = (assigned
          .select("cell", F.posexplode("embedding").alias("pos0", "valf"))
          .select("cell", (F.col("pos0") + 1).alias("pos"),
                  F.col("valf").cast("double").alias("val")))
    return (pe.groupBy("cell", "pos")
            .agg(F.round(F.sum(F.col("val").cast(DEC)).cast("double")
                         / F.count("*"), 6).alias("c_val"),
                 F.count("*").alias("n_members")))


def kmeans_train(emb: DataFrame, n_cells: int = N_IVF_CELLS,
                 n_iter: int = 3) -> DataFrame:
    """Full Lloyd training of the IVF codebook: iterate assign →
    re-estimate `n_iter` times from the first-n-vectors seed, return
    the final centroids as (cell, pos, c_val, n_members) long form.

    This is the standard distributed k-means shape: per iteration,
    ONE broadcast of the current codebook out, one shuffle-free
    assignment map over the corpus, one groupBy(cell, pos)
    re-estimation, and a collect of the new codebook back. The
    collect moves MODEL state (n_cells × dim floats), never data —
    the per-iteration driver traffic is O(k·d) regardless of corpus
    size. Empty cells keep their previous centroid. The DuckDB twin
    (_kmeans_train_oracle_sql) unrolls the same fixed iterations as
    chained CTEs — rounded centroids fed forward, empty-cell
    carryover included — so the full training loop is checked
    bit-exact, not just the kmeans_step kernel."""
    spark = emb.sparkSession
    base = _spread(emb)
    cents = [list(r["embedding"]) for r in
             emb.filter(F.col("vec_id") < n_cells)
                .orderBy("vec_id").select("embedding").collect()]
    from ..derive import DEC
    result = None
    for _ in range(n_iter):
        crow = spark.range(1).select(*[
            F.array(*[F.lit(float(x)) for x in cents[i]]).alias(f"_c{i}")
            for i in range(n_cells)])
        assigned = (_with_centroid_dots(
                        base.crossJoin(F.broadcast(crow)), n_cells)
                    .select("embedding", _argmax_cell(n_cells).alias("cell")))
        pe = (assigned
              .select("cell", F.posexplode("embedding").alias("pos0", "valf"))
              .select("cell", (F.col("pos0") + 1).alias("pos"),
                      F.col("valf").cast("double").alias("val")))
        result = (pe.groupBy("cell", "pos")
                  .agg(F.round(F.sum(F.col("val").cast(DEC)).cast("double")
                               / F.count("*"), 6).alias("c_val"),
                       F.count("*").alias("n_members")))
        new_rows = result.collect()  # O(k·d) model state, not data
        for r in new_rows:
            cents[r["cell"]][r["pos"] - 1] = r["c_val"]
    return result


KCENTER_K = 8


def kcenter_coreset(emb: DataFrame, k: int = KCENTER_K) -> DataFrame:
    """Greedy k-center coreset (farthest-point traversal — Gonzalez
    1985; the classic 2-approximation): pick the min-vec_id seed,
    then k−1 times pick the vector FARTHEST (max over vecs of min
    squared L2 distance to the chosen set, ties to the lowest
    vec_id). The standard geometric data-selection / diversity-
    sampling primitive a training pipeline uses to pick a small
    representative subset (coresets for k-means/active learning).

    Scale shape: the kmeans_train pattern — per round ONE broadcast
    of the j-row chosen set out, one shuffle-free map computing each
    vector's min distance locally, one TakeOrdered(1) argmax back.
    Driver state is O(k) ids; per-round traffic is model-sized,
    never corpus-sized. k−1 linear scans total (the greedy is
    inherently sequential in k). The (vec_id, embedding, |v|²) base
    frame is checkpointed once — it feeds every round.

    Exactness: d²(v,c) = |v|² + |c|² − 2·⟨v,c⟩ with each term the
    module's exact-unit decimal dot (bit-identical cross-engine) and
    the combination the SAME IEEE op tree (add, mul, sub) on both
    engines; MIN/argmax compare unrounded bit-stable doubles, ties
    break on vec_id. The DuckDB twin unrolls the same k−1 greedy
    steps as chained CTEs (the kmeans_train/logit precedent).
    Emitted min_sq_dist is round-6 display (NULL for the seed)."""
    from ..functions.checkpoints import iter_checkpoint
    spark = emb.sparkSession
    base = iter_checkpoint(
        _spread(emb).select(
            "vec_id", "embedding",
            F.expr(_dot_sql("embedding", "embedding")).alias("_n2")),
        eager=True)
    first = base.agg(F.min("vec_id")).collect()[0][0]
    chosen: list = [(1, first, None)]
    for rnd in range(2, k + 1):
        cents = (base.filter(
                     F.col("vec_id").isin([c[1] for c in chosen]))
                 .select(F.col("embedding").alias("_cvec"),
                         F.col("_n2").alias("_cn2")))
        d2 = (F.col("_n2") + F.col("_cn2")
              - 2 * F.expr(_dot_sql("embedding", "_cvec")))
        win = (base.crossJoin(F.broadcast(cents))
               .groupBy("vec_id").agg(F.min(d2).alias("_mind"))
               .orderBy(F.desc("_mind"), F.asc("vec_id")).limit(1)
               .collect()[0])
        chosen.append((rnd, win["vec_id"], float(win["_mind"])))
    return (spark.createDataFrame(
                chosen, "rnd long, vec_id long, min_sq_dist double")
            .select("rnd", "vec_id",
                    F.round("min_sq_dist", 6).alias("min_sq_dist"))
            .orderBy("rnd"))


def ivf_topk(emb: DataFrame, query_vec_id: int, k: int = 5,
             n_cells: int = N_IVF_CELLS) -> DataFrame:
    """IVF-ANN search: restrict the exact cosine top-k to the query's
    cell — the classic recall/cost trade (probe 1 cell here; probing
    more cells is the same plan with an isin filter).

    Fully fused and shuffle-free: ONE 1-row broadcast carries the
    query vector, its norm, the centroid arrays, and the
    pre-computed query cell; each data row then computes its own
    dots/norm/cell locally, filters to the probed cell, and feeds
    the TakeOrderedAndProject top-k."""
    cr = _centroids_row(emb, n_cells)
    # query cell computed inside the 1-row frame (same decimal dots ⇒
    # bit-identical to the query's own per-row assignment)
    qrow = (_with_centroid_dots(
                _query_row(emb, query_vec_id).crossJoin(cr), n_cells,
                vec_col="_q")
            .withColumn("_qcell", _argmax_cell(n_cells))
            .drop(*[f"dot_{i}" for i in range(n_cells)]))
    base = _spread(emb).crossJoin(F.broadcast(qrow))
    per_vec = (_with_centroid_dots(base, n_cells)
               .withColumn("cell", _argmax_cell(n_cells)))
    dot = F.expr(_dot_sql("embedding", "_q"))
    norm = F.expr(_norm_sql("embedding"))
    return (per_vec
            .filter((F.col("cell") == F.col("_qcell"))
                    & (F.col("vec_id") != query_vec_id))
            .select("vec_id",
                    F.round(dot / (norm * F.col("_qnorm")), 6)
                     .alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(k))


N_NEAR_DUP_PLANES = 16      # total hyperplanes (2 bands × 8)
NEAR_DUP_BAND_PLANES = 8    # planes per band → 2^8 sub-buckets/band
NEAR_DUP_TARGET_BUCKET = 32  # adaptive sizing: aim for ~this many
# Cap = 4× the adaptive target: under adaptive sizing a band-bucket 4×
# over its expected size is degenerate (vectors with identical sign
# patterns that extra planes cannot split — measured: the max bucket
# stays ~500 from bp=10 to bp=12 at 10× sf0.1 while p99 drops 387→82).
# Enumerating its pairs is O(cap²) noise; mass-duplication clusters
# belong to dedup_clusters (hub contraction), not pair output.  At the
# oracle scales the cap never binds (max bucket 32 at sf0.001/sf0.01,
# 99 at sf0.1), so capped and uncapped results coincide there.
NEAR_DUP_BUCKET_CAP = 4 * NEAR_DUP_TARGET_BUCKET


def adaptive_band_planes(n_rows: int,
                         target_bucket: int = NEAR_DUP_TARGET_BUCKET,
                         lo: int = NEAR_DUP_BAND_PLANES,
                         hi: int = 20) -> int:
    """Planes per band so the expected band-bucket holds
    ~`target_bucket` vectors: 2^band_planes ≈ n / target_bucket.
    Measured motivation (tools/scale_probe.py): with the bucket space
    FIXED at 2^8, a 10× corpus grew candidate pairs 102× (69.8k →
    7.13M) — quadratic; with the space growing with the corpus,
    per-bucket density is flat and pair growth is ~linear."""
    import math
    if n_rows <= 0:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(max(1.0, n_rows / target_bucket)))))


def _band_bucket_sql(band: int, band_planes: int) -> str:
    """SQL: the `band_planes`-bit sign-LSH bucket for band `band`
    (planes h = band·band_planes .. band·band_planes+band_planes-1,
    bits packed from plane-local bit 0). Row-local, no shuffle."""
    return " + ".join(
        f"IF({_plane_sum_sql(band * band_planes + j)} > 0, {1 << j}L, 0L)"
        for j in range(band_planes))


def embedding_near_dup_pairs(
        emb: DataFrame,
        n_planes: int | None = None,
        band_planes: int | None = None,
        bucket_cap: int = NEAR_DUP_BUCKET_CAP) -> DataFrame:
    """Candidate near-duplicate pairs via BANDED sign-LSH: `n_planes`
    hyperplanes split into n_planes/band_planes bands; a pair is a
    candidate when ALL `band_planes` plane signs agree in at least one
    band (MinHash-style banding over random hyperplanes). The verify
    step computes exact cosine on candidates only.

    Scale posture: the old
    single-band 8-plane formulation had a FIXED 256-bucket space, so
    within-bucket pairing was O(n²/256) — quadratic at 100 TB.  Now:
      * `band_planes` sets the bucket space per band (2^band_planes)
        and by default ADAPTS to the corpus: `adaptive_band_planes`
        sizes it so the expected bucket holds ~NEAR_DUP_TARGET_BUCKET
        vectors (one metadata-cheap `count()` to size it).  Fixed
        bucket spaces are the quadratic trap: the 10× probe measured
        102× pair growth at 2^8 fixed vs ~linear when the space grows
        with n.  Banding keeps recall up while buckets shrink.
        The sf0.01/sf0.1 oracle pins the ≤2^8·target regime, where
        adaptive resolves to exactly the 8-plane constants.
      * `bucket_cap` is the hard guarantee: a band-bucket bigger than
        the cap is dropped from pairing entirely (a bucket that big is
        not evidence of near-duplication — it's a degenerate region of
        the plane space), bounding worst-case pair output at
        n_bands · n_buckets · cap² regardless of skew.  Same cap rule
        as the MinHash path (dedup.py banding docstring).
    Shuffles: one groupBy per band for bucket sizes + one self-join
    per band + the final pair distinct — all keyed on (band, bucket),
    none quadratic.

    Output: distinct (vec_a, vec_b), vec_a < vec_b."""
    from pyspark.sql import Window
    if band_planes is None:
        band_planes = adaptive_band_planes(emb.count())
    if n_planes is None:
        n_planes = 2 * band_planes
    n_bands = n_planes // band_planes
    # All band buckets in ONE pass over the source: a row-local array
    # of (band, bucket) structs exploded to n_bands narrow rows — no
    # per-band rescan/union of the (wide) embedding column.
    entries = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.expr(_band_bucket_sql(band, band_planes)).alias("bucket"))
        for band in range(n_bands)])
    bk = (_spread(emb)
          .select("vec_id", F.explode(entries).alias("_bb"))
          .select("vec_id", "_bb.band", "_bb.bucket"))
    # Cap via a count window on (band, bucket), then MATERIALIZE:
    # the "self-join reuses the exchange" claim was an AQE lottery —
    # measured 4 Window nodes / at best 1 ReusedExchange, i.e. the cap
    # window ran twice. The checkpointed frame is |vecs|×bands narrow
    # rows and preserves the (band, bucket) partitioning.
    from ..functions.checkpoints import iter_checkpoint
    w = Window.partitionBy("band", "bucket")
    bk = iter_checkpoint(
        bk.withColumn("_bsz", F.count("*").over(w))
          .filter(F.col("_bsz") <= bucket_cap)
          .drop("_bsz"),
        eager=True)
    a, b = bk.alias("a"), bk.alias("b")
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())


def embedding_near_dup_verified(emb: DataFrame, threshold: float = 0.9,
                                n_planes: int | None = None,
                                band_planes: int | None = None,
                                bucket_cap: int = NEAR_DUP_BUCKET_CAP,
                                pairs: DataFrame | None = None
                                ) -> DataFrame:
    """The full ANN-dedup pipeline: banded-LSH candidate pairs →
    EXACT cosine on candidates only → keep pairs ≥ `threshold`.
    This is the verify step every candidate generator's docstring
    promises; together they are the embedding twin of
    minhash_lsh_candidates → ngram_jaccard_pairs.

    Plan shape: candidates (bounded by banding + bucket cap) hash-join
    the embedding table twice on vec_id to fetch both sides' vectors,
    then the cosine is one row-local exact-decimal kernel (same
    arithmetic as cosine_topk, so any engine agrees bit-for-bit).
    Cost is O(candidates), never O(n²): the joins shuffle only the
    candidate ids plus the (already key-partitioned) embeddings.

    Output: (vec_a, vec_b, cos_sim rounded to 6dp), filtered on the
    ROUNDED value so the threshold cut is engine-independent.

    Norms are computed ONCE PER VECTOR in the side projections (before
    the join), not per pair — a vector in k candidate pairs would
    otherwise pay the exact-decimal norm kernel k times (measured
    13.5 s → ~6 s at sf0.1, where candidates ≈ 35× vectors); only the
    pairwise dot remains per-pair work.

    `pairs` — optional precomputed/persisted candidate frame (the
    signature-index sharing rule: one LSH pass per run)."""
    if pairs is None:
        pairs = embedding_near_dup_pairs(emb, n_planes, band_planes,
                                         bucket_cap)
    sides = emb.select("vec_id", "embedding",
                       F.expr(_norm_sql("embedding")).alias("_n"))
    va = sides.select(F.col("vec_id").alias("vec_a"),
                      F.col("embedding").alias("_ea"),
                      F.col("_n").alias("_na"))
    vb = sides.select(F.col("vec_id").alias("vec_b"),
                      F.col("embedding").alias("_eb"),
                      F.col("_n").alias("_nb"))
    cos = F.round(F.expr(_dot_sql("_ea", "_eb"))
                  / (F.col("_na") * F.col("_nb")), 6)
    return (pairs.join(va, "vec_a").join(vb, "vec_b")
            .select("vec_a", "vec_b", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of a
# large-scale ANN index (IVF-PQ). Each 64-dim vector is cut into
# PQ_M subvectors; each subvector is replaced by the id of its
# nearest codebook centroid, so a vector stores as PQ_M small ints
# instead of 64 floats (16× compression here; 32-64× in production
# codebooks). Queries score against codes with an asymmetric
# distance computation (ADC): one tiny lookup table of
# query-to-centroid distances per subspace, then a per-row sum of
# PQ_M table entries — no float math per candidate at all.
#
# Scale shape: code assignment is a broadcast (codebook) + a
# shuffle-free map; ADC is a second 1-row broadcast (the lookup
# table) + a shuffle-free map + TakeOrderedAndProject. Nothing here
# grows with corpus size except the linear scan itself, which IVF
# (ivf_topk) already bounds to a cell subset.
#
# Exactness: distances accumulate as BIGINT 1e-10 units (see
# _agg_units) so comparisons are integer-exact and the argmin /
# top-k order is identical in any engine.
PQ_M = 4                    # subspaces
PQ_SUBDIM = 16              # dims per subspace (64 / PQ_M)
PQ_K = 4                    # centroids per subspace codebook


def _pq_dist_units_sql(m: int, a: str, b: str) -> str:
    """SQL: ‖a_m − b_m‖² of subspace m in exact 1e-10 units (BIGINT).
    Per-element (a−b)² is plain DOUBLE (identical in any engine);
    each square is snapped to DECIMAL(28,10) and summed as integer
    units."""
    s, w = m * PQ_SUBDIM + 1, PQ_SUBDIM
    return _agg_units(
        f"zip_with(slice({a}, {s}, {w}), slice({b}, {s}, {w}), "
        f"(a, b) -> CAST(CAST("
        f"(CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        f" * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        f" AS DECIMAL(28,10)) * {_UNITS} AS BIGINT))")


def _argmin_code(m: int, k: int):
    """argmin over du_{m}_0..du_{m}_{k-1} (exact BIGINTs), ties to the
    LOWEST centroid id — same tie rule as _argmax_cell."""
    best = F.least(*[F.col(f"du_{m}_{j}") for j in range(k)])
    code = F.lit(0)
    for j in reversed(range(k)):
        code = F.when(F.col(f"du_{m}_{j}") == best, F.lit(j)).otherwise(code)
    return code


def pq_codes(emb: DataFrame, n_codes: int = PQ_K) -> DataFrame:
    """PQ encode every vector: code_m = nearest codebook centroid of
    subspace m. Codebook = subvectors of the first `n_codes` vectors
    (deterministic stand-in for a trained codebook — per-subspace
    kmeans_step would train it; the assignment kernel is what's
    exercised here). One broadcast + shuffle-free map."""
    base = _spread(emb).crossJoin(F.broadcast(_centroids_row(emb, n_codes)))
    with_d = base.select("vec_id", "embedding", *[
        F.expr(_pq_dist_units_sql(m, "embedding", f"_c{j}"))
         .alias(f"du_{m}_{j}")
        for m in range(PQ_M) for j in range(n_codes)])
    code_cols = [_argmin_code(m, n_codes).alias(f"code_{m}")
                 for m in range(PQ_M)]
    packed = None
    for m in range(PQ_M):
        term = _argmin_code(m, n_codes).cast("bigint") * (n_codes ** m)
        packed = term if packed is None else packed + term
    return with_d.select("vec_id", *code_cols,
                         packed.alias("packed_code"))


def pq_topk(emb: DataFrame, query_vec_id: int, k: int = 10,
            n_codes: int = PQ_K) -> DataFrame:
    """ADC top-k: approx dist(q, x) = Σ_m lut[m][code_m(x)], where
    lut holds the exact query-to-centroid subspace distances. The
    lut is a 1-row broadcast; scoring is PQ_M integer CASE lookups +
    adds per row; the cut is TakeOrderedAndProject on the exact
    integer total (ties → vec_id)."""
    q = (emb.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("embedding").alias("_q")))
    lut = (q.crossJoin(F.broadcast(_centroids_row(emb, n_codes)))
           .select(*[F.expr(_pq_dist_units_sql(m, "_q", f"_c{j}"))
                     .alias(f"qd_{m}_{j}")
                     for m in range(PQ_M) for j in range(n_codes)]))
    codes = pq_codes(emb, n_codes).filter(F.col("vec_id") != query_vec_id)
    scored = codes.crossJoin(F.broadcast(lut))
    total = None
    for m in range(PQ_M):
        pick = F.lit(None).cast("bigint")
        for j in reversed(range(n_codes)):
            pick = F.when(F.col(f"code_{m}") == j,
                          F.col(f"qd_{m}_{j}")).otherwise(pick)
        total = pick if total is None else total + pick
    return (scored
            .select("vec_id", total.alias("_du"),
                    F.round(total.cast("double") / 1e10, 6).alias("adc_dist"))
            .orderBy(F.asc("_du"), F.asc("vec_id"))   # exact-integer order
            .limit(k)
            .drop("_du"))


def ivfpq_topk(emb: DataFrame, query_vec_id: int, k: int = 10,
               nprobe: int = 2, n_cells: int = N_IVF_CELLS,
               n_codes: int = PQ_K) -> DataFrame:
    """IVF-PQ: the composed large-scale ANN index — coarse quantizer
    restricts the scan to the query's `nprobe` nearest cells, PQ/ADC
    scores what's left. This is the plan shape of a production
    billion-vector index (FAISS IVFPQ): at 100 TB the coarse cells
    are the partition key of the stored codes, so a probe touches
    nprobe/n_cells of the data; here both quantizers evaluate in ONE
    row-local projection over one scan (coarse centroids + codebook +
    query lookup table are all broadcasts), so the only many-row
    operator after the scan is TakeOrderedAndProject.

    Exactness: cell choice, probe choice, codes, and ADC totals all
    reduce to exact integer-unit comparisons (ties → lowest id), so
    the result is engine-reproducible.
    """
    coarse = F.broadcast(_centroids_row(emb, n_cells))
    q = (emb.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("embedding").alias("_q")))
    # query's nprobe nearest coarse cells (1×n_cells — driver-sized)
    qdots = _with_centroid_dots(q.crossJoin(coarse), n_cells, vec_col="_q")
    cells = (qdots.select(F.explode(F.array(*[
                 F.struct(F.lit(i).alias("cell"),
                          F.col(f"dot_{i}").alias("dot"))
                 for i in range(n_cells)])).alias("s"))
             .select("s.cell", "s.dot")
             .orderBy(F.desc("dot"), F.asc("cell"))
             .limit(nprobe).select("cell"))
    # query→codebook subspace distance lookup table (1 row)
    lut = (q.crossJoin(F.broadcast(_centroids_row(emb, n_codes)))
           .select(*[F.expr(_pq_dist_units_sql(m, "_q", f"_c{j}"))
                     .alias(f"qd_{m}_{j}")
                     for m in range(PQ_M) for j in range(n_codes)]))
    # one projection: coarse cell + PQ codes, row-local
    base = (_spread(emb)
            .crossJoin(coarse)
            .crossJoin(F.broadcast(_centroids_row(emb, n_codes)
                                   .select(*[F.col(f"_c{j}").alias(f"_p{j}")
                                             for j in range(n_codes)]))))
    with_all = _with_centroid_dots(base, n_cells).select(
        "vec_id", _argmax_cell(n_cells).alias("cell"), *[
            F.expr(_pq_dist_units_sql(m, "embedding", f"_p{j}"))
             .alias(f"du_{m}_{j}")
            for m in range(PQ_M) for j in range(n_codes)])
    coded = with_all.select(
        "vec_id", "cell",
        *[_argmin_code(m, n_codes).alias(f"code_{m}") for m in range(PQ_M)])
    scored = (coded
              .join(F.broadcast(cells), "cell")          # probe filter
              .filter(F.col("vec_id") != query_vec_id)
              .crossJoin(F.broadcast(lut)))
    total = None
    for m in range(PQ_M):
        pick = F.lit(None).cast("bigint")
        for j in reversed(range(n_codes)):
            pick = F.when(F.col(f"code_{m}") == j,
                          F.col(f"qd_{m}_{j}")).otherwise(pick)
        total = pick if total is None else total + pick
    return (scored
            .select("vec_id", "cell", total.alias("_du"),
                    F.round(total.cast("double") / 1e10, 6).alias("adc_dist"))
            .orderBy(F.asc("_du"), F.asc("vec_id"))
            .limit(k)
            .drop("_du"))


ANN_RECALL_QIDS = (100, 200, 300)
ANN_RECALL_K = 10


def ann_recall(emb: DataFrame, query_ids=ANN_RECALL_QIDS,
               k: int = ANN_RECALL_K,
               n_cells: int = N_IVF_CELLS) -> DataFrame:
    """Recall@k of the IVF index against the exact scan, per query —
    the index-quality gate a production ANN deployment monitors
    (recall = |ivf_topk ∩ exact_topk| / k).

    Plan: ONE scan computes every row's coarse cell (row-local argmax
    over broadcast centroid dots); the |Q| query rows (with their own
    cell + norm) broadcast onto it, so exact and IVF candidate scores
    come out of the same |Q|·n-row map stage. BOTH top-k cuts fall
    out of a single qid-partitioned window pass: rn (global rank)
    gives the exact cut, and a running count of same-cell rows gives
    each in-cell row its in-cell rank — so membership in either list
    is two boolean columns on one frame, and the recall report is one
    tiny groupBy(qid). Exactly one O(|Q|·n) shuffle (the window),
    |Q| tiny, rows thin. (A first draft cut the two lists with
    separate windows and joined three per-qid aggregates back
    together — 72 exchanges + 6 sort-merge joins and the scoring
    subtree evaluated twice; this shape audits at 1 window + 1 agg.)

    Exactness: cos_sim is the usual integer-unit dot (bit-identical
    across engines), ties → vec_id ASC, so both top-k cuts are
    total-ordered and the recall fraction is deterministic.
    """
    qid_list = list(query_ids)
    base = _spread(emb).crossJoin(F.broadcast(_centroids_row(emb, n_cells)))
    withcell = _with_centroid_dots(base, n_cells).select(
        "vec_id", "embedding", _argmax_cell(n_cells).alias("cell"))
    qmeta = (withcell.filter(F.col("vec_id").isin(qid_list))
             .select(F.col("vec_id").alias("qid"),
                     F.col("embedding").alias("_q"),
                     F.col("cell").alias("qcell"))
             .withColumn("_qnorm", F.expr(_norm_sql("_q"))))
    cand = (withcell.crossJoin(F.broadcast(qmeta))
            .filter(F.col("vec_id") != F.col("qid")))
    dot = F.expr(_dot_sql("embedding", "_q"))
    norm = F.expr(_norm_sql("embedding"))
    scored = cand.select(
        "qid", "vec_id", "cell", "qcell",
        F.round(dot / (norm * F.col("_qnorm")), 6).alias("cos_sim"))
    in_cell = F.col("cell") == F.col("qcell")
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    rn = F.row_number().over(w)
    cell_rank = F.sum(F.when(in_cell, 1).otherwise(0)).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow))
    flagged = scored.select(
        "qid",
        (rn <= k).alias("e"),
        (in_cell & (cell_rank <= k)).alias("i"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return (flagged.groupBy("qid")
            .agg(one(F.col("e")).alias("n_exact"),
                 one(F.col("i")).alias("n_ivf"),
                 one(F.col("e") & F.col("i")).alias("n_hit"))
            .select("qid", "n_exact", "n_ivf", "n_hit",
                    F.round(F.col("n_hit").cast("double")
                            / F.lit(float(k)), 6).alias("recall"))
            .orderBy("qid"))


def normalize_embeddings(emb: DataFrame) -> DataFrame:
    """Unit-norm embedding projection — the preprocessing step every
    cosine-metric ANN index applies at build time (after it, cosine ==
    dot and an index can use plain inner product). Pure per-row map:
    the exact-decimal norm (same kernel as every cosine here), then
    one IEEE divide per element, rounded to 6dp so the emitted array
    is bit-identical in any engine. Zero shuffle at any scale."""
    norm = F.expr(_norm_sql("embedding"))
    normed = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / F.col("_n"), 6))
    return (_spread(emb)
            .select("vec_id", "embedding", norm.alias("_n"))
            .select("vec_id",
                    F.round("_n", 6).alias("norm"),
                    F.when(F.col("_n") > 0, normed)
                     .otherwise(F.col("embedding").cast("array<double>"))
                     .alias("unit"))
            )


OUTLIERS_PER_LABEL = 10


def label_outliers(emb: DataFrame,
                   k: int = OUTLIERS_PER_LABEL) -> DataFrame:
    """Per-label embedding outliers: squared L2 distance of every
    vector to its LABEL's centroid, top-k farthest per label — the
    mislabeled/noisy-sample detector a training-data QA stage runs
    over (embedding, label) pairs (curation recipes flag exactly
    these rows for relabel/drop review).

    Scale shape: one posexplode → groupBy(label, pos) mean for the
    centroids (map-side partials; output is |labels|·d rows — model-
    sized, broadcast back), then the squared-diff sum reduces per
    vec_id with map-side combine and the k-row-per-label cut is a
    window rank over label partitions. Two narrow shuffles of n·d
    rows total at any corpus size.

    Exactness: centroid = exact decimal sum / count, ROUND 6 (the
    kmeans_step rule), so both engines hold bit-identical centroids;
    each (val − c)·(val − c) term is then IEEE-exact on identical
    doubles, the per-vector sum goes through the decimal rule again,
    and sq_dist is ROUNDed at emission. Rank ties (identical exact
    sq_dist) break by vec_id ASC."""
    from ..derive import DEC
    pe = (_spread(emb)
          .select("vec_id", "label",
                  F.posexplode("embedding").alias("pos0", "valf"))
          .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"),
                  F.col("valf").cast("double").alias("val")))
    cents = (pe.groupBy("label", "pos")
             .agg(F.round(F.sum(F.col("val").cast(DEC)).cast("double")
                          / F.count("*"), 6).alias("c_val")))
    diffs = (pe.join(F.broadcast(cents), ["label", "pos"])
             .select("vec_id", "label",
                     ((F.col("val") - F.col("c_val"))
                      * (F.col("val") - F.col("c_val"))).alias("_sq")))
    dist = (diffs.groupBy("vec_id", "label")
            .agg(F.sum(F.col("_sq").cast(DEC)).cast("double")
                 .alias("_sq_dist")))
    w = W.partitionBy("label").orderBy(F.desc("_sq_dist"), F.asc("vec_id"))
    return (dist.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("label", F.col("rnk").cast("int").alias("rnk"),
                    "vec_id", F.round("_sq_dist", 6).alias("sq_dist"))
            .orderBy("label", "rnk"))


HYBRID_COS_THRESHOLD = 0.0


def hybrid_near_dup(docs: DataFrame, emb: DataFrame,
                    threshold: float = HYBRID_COS_THRESHOLD,
                    cands: DataFrame | None = None) -> DataFrame:
    """Multi-signal near-dup verify: TEXT MinHash-LSH candidates
    cross-checked by EMBEDDING cosine — the two-modality agreement
    rule real curation pipelines apply before destructive dedup
    (surface-form match alone deletes translations/templates wrongly;
    embedding match alone deletes topical neighbors; requiring both
    bounds the damage of either signal's failure mode). Joins the
    documents and embeddings tables on doc_id == vec_id.

    Plan shape: candidates come from the banded text pipeline
    (bounded by banding + bucket cap — never O(n²)), then two
    vec_id hash joins fetch the vectors and the cosine is the same
    row-local exact-decimal kernel as cosine_topk, norms computed
    once per vector BEFORE the join (the embedding_near_dup_verified
    rule). Cost is O(text candidates).

    Output: (doc_a, doc_b, n_bands, cos_sim rounded 6dp), filtered
    on the ROUNDED cosine so the cut is engine-independent."""
    from .dedup import minhash_lsh_candidates
    if cands is None:
        cands = minhash_lsh_candidates(docs)
    sides = emb.select("vec_id", "embedding",
                       F.expr(_norm_sql("embedding")).alias("_n"))
    va = sides.select(F.col("vec_id").alias("doc_a"),
                      F.col("embedding").alias("_ea"),
                      F.col("_n").alias("_na"))
    vb = sides.select(F.col("vec_id").alias("doc_b"),
                      F.col("embedding").alias("_eb"),
                      F.col("_n").alias("_nb"))
    cos = F.round(F.expr(_dot_sql("_ea", "_eb"))
                  / (F.col("_na") * F.col("_nb")), 6)
    return (cands.join(va, "doc_a").join(vb, "doc_b")
            .select("doc_a", "doc_b", "n_bands", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


RP_OUT_DIMS = 8


def rp_project(emb: DataFrame, out_dims: int = RP_OUT_DIMS) -> DataFrame:
    """Random-projection dimensionality reduction (Achlioptas-style
    ±1 sign matrix): project each embedding to `out_dims` components
    — the cheap JL-lemma preprocessing that shrinks vectors before
    clustering / coarse ANN when the full dimension is overkill.

    The projection matrix is DERIVED, not stored: w(i, j) = ±1 from
    the high bit of md5(i:j)'s first hex digit — the simhash trick
    lifted to real-valued inputs, identical in any engine. The weight
    arrays reference no row columns, so Catalyst constant-folds them
    at plan time: per row the work is out_dims fused
    multiply-accumulate scans of the embedding array, ZERO shuffle at
    any scale (pure map fused into the parquet scan).

    Each component is a SEQUENTIAL left fold in DOUBLE over the
    array order (Spark aggregate() and DuckDB list_reduce() pin the
    same operation order, so IEEE addition is bit-identical) —
    deliberately NOT the decimal-sum rule used elsewhere: casting a
    raw float32 term to DECIMAL(38,10) hits rounding-mode ties at
    the 10th digit where Spark (HALF_UP) and DuckDB disagree
    (measured 15/4000 components off by one 6dp ulp), while the
    order-pinned double fold has no intermediate rounding at all.
    Emitted ROUNDed to 6dp as columns p0..p{out_dims-1}."""
    high = "('8','9','a','b','c','d','e','f')"
    comps = []
    for j in range(out_dims):
        w = (f"transform(sequence(1, size(embedding)), "
             f"i -> IF(substring(md5(concat(cast(i as string), ':', "
             f"'{j}')), 1, 1) IN {high}, CAST(1.0 AS DOUBLE), "
             f"CAST(-1.0 AS DOUBLE)))")
        acc = (f"aggregate(zip_with(embedding, {w}, "
               f"(x, w) -> CAST(x AS DOUBLE) * w), "
               f"CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")
        comps.append(F.round(F.expr(acc), 6).alias(f"p{j}"))
    return _spread(emb).select("vec_id", *comps).orderBy("vec_id")


def incremental_topk(emb: DataFrame, query_vec_id: int = 0,
                     k: int = 10, mod: int = 10,
                     rem: int = 9) -> DataFrame:
    """Incrementally-maintained exact cosine top-k — the
    interactive-session pattern (cf. EDBT'20 incremental top-k
    similarity search): a standing top-k result over the corpus is
    kept as STATE, and when a delta batch of vectors arrives only the
    delta is scanned; the new global answer is the re-ranked merge of
    the stored top-k with the delta's top-k. Correct because top-k is
    a monoid over disjoint unions: the global top-k is contained in
    (top-k of corpus) ∪ (top-k of delta), so the merge loses nothing
    — the same partial-aggregate algebra Spark's own
    TakeOrderedAndProject exploits per partition, lifted to the
    batch-over-time dimension.

    Demo split: corpus = vec_id % mod != rem, delta = the rest;
    in production the corpus top-k is a k-row stored table and each
    arriving batch costs O(|delta| + k·log k) instead of a corpus
    rescan. The DuckDB oracle computes the DIRECT top-k over the full
    table — the gate literally proves merge-of-top-k == full top-k.

    Returns (vec_id, cos_sim) — the global top-k."""
    corpus = emb.filter(F.col("vec_id") % mod != rem)
    delta = emb.filter(F.col("vec_id") % mod == rem)
    # the query row comes from the full table so both legs score
    # against the identical vector
    q = F.broadcast(_query_row(emb, query_vec_id))
    def leg(side: DataFrame) -> DataFrame:
        base = _spread(side).crossJoin(q)
        dot = F.expr(_dot_sql("embedding", "_q"))
        norm = F.expr(_norm_sql("embedding"))
        return (base.filter(F.col("vec_id") != query_vec_id)
                .select("vec_id",
                        F.round(dot / (norm * F.col("_qnorm")), 6)
                         .alias("cos_sim"))
                .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
                .limit(k))
    return (leg(corpus).unionByName(leg(delta))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(k))


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
# space, then prune any vector whose cosine to an EARLIER member of
# the same cluster clears a threshold — near-duplicate removal by
# meaning, the step text-level MinHash can't do (paraphrases share no
# shingles). Round-4 extension; reference has no embedding analogue.

# SemDeDup's paper value is ~0.95 on real text embeddings; the test
# corpus's synthetic vectors are near-orthogonal (max intra-cell
# cosine ≈ 0.49 at sf0.01), so the demo τ sits inside the observed
# range to keep BOTH verdict branches exercised by the oracle gate.
SEMANTIC_DEDUP_TAU = 0.4
SEMANTIC_CELL_CAP = 1024


def semantic_cells(n_rows: int, cap: int = SEMANTIC_CELL_CAP) -> int:
    """SemDeDup's cell-count rule, integer-exact: the smallest power
    of two c with c² ≥ n (≈ √n, so expected pairs per corpus stay
    ~n^1.5/2 instead of n²), floor 8, capped. Pure integer doubling —
    no float log/sqrt whose 1-ulp boundary could diverge between the
    Spark driver and the oracle's SQL CASE ladder (which pins the
    same thresholds: c=8 ⇔ n≤64, 16 ⇔ n≤256, 32 ⇔ n≤1024, ...).

    Measured motivation: with n_cells FIXED at 8 the
    intra-cell pair scan was N²/16 — 12.8 s at sf0.1 (1.5M pairs) and
    quadratic beyond; with c ~ √N the same query is sub-second and
    pair growth is ~N^1.5."""
    c = 8
    while c * c < n_rows and c < cap:
        c *= 2
    return c


def semantic_dedup(emb: DataFrame, n_cells: int | None = None,
                   threshold: float = SEMANTIC_DEDUP_TAU) -> DataFrame:
    """SemDeDup over the embeddings table: IVF-style cell assignment
    (argmax-dot against the deterministic first-c centroids — the
    ivf_assign codebook rule, so assignments are engine-exact), then
    an intra-cell pair scan marks vec b a duplicate when some a < b
    in the same cell has cos(a,b) ≥ τ. Keep-lowest-id matches the
    dedup.py canonical rule.

    Scale shape: the pair scan is quadratic WITHIN a cell only, and
    the cell count follows SemDeDup's √N recipe (semantic_cells) so
    expected pair work is ~N^1.5, not N²; the cell id is the shuffle
    key, so each cell's scan is one task with no cross-cell traffic.
    The assignment is a broadcast join against the c-row centroid
    frame (O(model) state; row_number picks argmax dot with
    lowest-cid ties) — a join, not c unrolled columns, so c can grow
    with the corpus without codegen blowup. The only corpus-sized
    exchanges are the cell-keyed one and the assignment's row_number
    window (keyed by vec_id — hash-distributed, no global order).
    The driver-side .count() sizing the codebook is O(1) state, the
    adaptive_band_planes precedent.

    Determinism: dots/norms via the module's exact-unit decimal rule;
    the τ compare and per-vec MAX are over bit-stable doubles;
    max_earlier_cos is round-6 for display only (the flag uses the
    unrounded value on both engines).
    """
    if n_cells is None:
        # last-resort sizing only: callers should pass n_cells from
        # catalog statistics (io.table_num_rows — zero Spark jobs)
        n_cells = semantic_cells(emb.count())
    # the dense-id validation runs INSIDE the consuming job
    # (sentinel-guarded window count, _guarded_codebook): a separate
    # cents.count() would be a plan-build action before any work.
    from ..functions.checkpoints import iter_checkpoint
    cents = _guarded_codebook(emb, n_cells, "semantic_dedup")
    # the assignment frame feeds BOTH pair-join sides and the
    # final flag join — 3 lineage branches, and branches do not share
    # subplans (the weighted_jaccard_pairs/kn_lm lesson): without the
    # boundary the N×c crossJoin + argmax window ran up to 3×.
    cells = iter_checkpoint(_semantic_cells_frame(emb, cents),
                            eager=False)
    earlier = (_semantic_cos_pairs(cells)
               .select(F.col("_vb").alias("vec_id"), F.col("_cos"))
               .groupBy("vec_id")
               .agg(F.max("_cos").alias("_max_cos")))
    return (cells.join(earlier, "vec_id", "left")
            .select("vec_id", F.col("cell").cast("int").alias("cell"),
                    F.round("_max_cos", 6).alias("max_earlier_cos"),
                    F.coalesce(F.col("_max_cos") >= threshold,
                               F.lit(False)).alias("is_dup"))
            .orderBy("vec_id"))


def _guarded_codebook(emb: DataFrame, n_cells: int, who: str) -> DataFrame:
    """First-n_cells codebook with the dense-id validation folded INTO
    the consuming job — no plan-build action (a separate
    `cents.count()` would be a blocking scan before any work). A
    SENTINEL row is unioned in before the global window count
    (model-sized frame, ≤ cell cap + 1 — the SinglePartition is over
    ~√N rows, not the fact), so `assert_true` evaluates even when the
    corpus has ZERO vec_ids below n_cells (a sentinel-free window has
    no rows to assert on for fully-sparse ids, and the consumer would
    silently return empty where a `cents.count()` check raises); the
    filter keeps every real row while forcing evaluation (the
    ema_final guard pattern, finance.py), then drops the sentinel."""
    vec_type = emb.schema["embedding"].dataType.simpleString()
    sentinel = (emb.sparkSession.range(1)
                .select(F.lit(-1).cast("int").alias("_cid"),
                        F.lit(None).cast(vec_type).alias("_cvec")))
    guard = F.assert_true(
        F.col("_ncb") == n_cells + 1,
        F.concat(F.lit(f"{who} codebook expects dense 0-based vec_ids:"
                       f" wanted {n_cells} centroids, found "),
                 (F.col("_ncb") - 1).cast("string")))
    return (emb.filter(F.col("vec_id") < n_cells)
            .select(F.col("vec_id").cast("int").alias("_cid"),
                    F.col("embedding").alias("_cvec"))
            .unionByName(sentinel)
            .withColumn("_ncb", F.count("*").over(W.partitionBy(F.lit(1))))
            # two filters, guard INNERMOST: CombineFilters folds them
            # to And(guard, _cid >= 0) evaluated left-to-right, so the
            # assert fires on the sentinel row even when it is the
            # only row (a single combined `guard & _cid >= 0` filter
            # could short-circuit the guard away on the sentinel)
            .filter(guard.isNull())
            .filter(F.col("_cid") >= 0)
            .drop("_ncb"))


def _semantic_cells_frame(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell, _nrm): argmax-dot cell assignment
    against a (_cid, _cvec) centroid frame — broadcast join +
    row_number, the codegen-friendly form (see semantic_dedup)."""
    scored = (_spread(emb).crossJoin(F.broadcast(cents))
              .select("vec_id", "embedding", "_cid",
                      F.expr(_dot_sql("embedding", "_cvec")).alias("_dot")))
    w = W.partitionBy("vec_id").orderBy(F.desc("_dot"), F.asc("_cid"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "embedding", F.col("_cid").alias("cell"),
                    F.expr(_norm_sql("embedding")).alias("_nrm")))


def _semantic_cos_pairs(cells: DataFrame) -> DataFrame:
    """(_va, _vb, _cos) for every intra-cell pair with _va < _vb —
    the exact-unit cosine over the assigned-cells frame."""
    a = cells.select(F.col("vec_id").alias("_va"),
                     F.col("cell").alias("_ca"),
                     F.col("embedding").alias("_ea"),
                     F.col("_nrm").alias("_na"))
    b = cells.select(F.col("vec_id").alias("_vb"),
                     F.col("cell").alias("_cb"),
                     F.col("embedding").alias("_eb"),
                     F.col("_nrm").alias("_nb"))
    cos = (F.expr(_dot_sql("_ea", "_eb"))
           / (F.col("_na") * F.col("_nb")))
    return (a.join(b, (F.col("_ca") == F.col("_cb"))
                   & (F.col("_va") < F.col("_vb")))
            .select("_va", "_vb", cos.alias("_cos")))


def semantic_clusters(emb: DataFrame, n_cells: int | None = None,
                      threshold: float = SEMANTIC_DEDUP_TAU) -> DataFrame:
    """Semantic-duplicate CLUSTERS: connected components of the
    intra-cell cosine graph (pairs with cos ≥ τ from the same
    codebook/cell machinery as semantic_dedup). Emits
    (vec_id, cluster_id) for EVERY vector, cluster_id = the smallest
    vec_id in the component — the keep-one canonical, completing the
    SemDeDup family the way dedup_clusters completes MinHash: flags
    (semantic_dedup) answer "is this a dup", clusters answer "of
    WHAT", and transitive chains A~B~C collapse to one kept vector
    even when cos(A,C) < τ.

    Scale shape: pair generation is the cell-bounded scan (≈N^1.5
    under the √N cell rule); components use the shared min-label
    propagation kernel (dedup.min_label_components — one propagation
    step per round: the persisted closed neighbourhood unioned with
    the labels, a min over a window per edge target, then a min per
    vector, run in one task while the measured neighbourhood fits one
    partition and checkpointed with its convergence fingerprint
    observed on the checkpoint job; O(1) lineage and driver state).
    Components are cell-local, since pairs are intra-cell by
    construction, so the diameter is tiny and the loop runs
    diameter + 1 rounds, a handful in practice.

    Oracle: recursive-CTE transitive closure over the same pair
    predicate — the dedup_clusters twin on the embedding side.
    """
    from .dedup import min_label_components
    if n_cells is None:
        # last-resort sizing only (see semantic_dedup)
        n_cells = semantic_cells(emb.count())
    # guarded codebook: an unvalidated filter would give a sparse-id
    # corpus a short codebook silently; the dense-id assert rides the
    # consuming job (no plan-build action either)
    from ..functions.checkpoints import iter_checkpoint
    cents = _guarded_codebook(emb, n_cells, "semantic_clusters")
    # checkpoint the assignment — it feeds both pair-join sides
    # (see semantic_dedup; without it the pair phase, which ran the
    # assignment once per side, took 4.08 s warm at sf0.1 and was
    # the dominant phase; SCALING.md)
    cells = iter_checkpoint(_semantic_cells_frame(emb, cents),
                            eager=False)
    pairs = (_semantic_cos_pairs(cells)
             .filter(F.col("_cos") >= threshold)
             .select(F.col("_va").alias("doc_a"),
                     F.col("_vb").alias("doc_b")))
    sym = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b")))
    labels0 = emb.select(F.col("vec_id").alias("doc_id"),
                         F.col("vec_id").alias("cluster_id"))
    return (min_label_components(labels0, sym)
            .select(F.col("doc_id").alias("vec_id"), "cluster_id")
            .orderBy("vec_id"))


# ---------------------------------------------------------------------------
# MMR diversified retrieval (Carbonell & Goldstein 1998): re-rank a
# relevance-ordered candidate pool so each pick balances query
# relevance against redundancy with what's already picked — the
# retrieval-side twin of semantic_dedup (dedup prunes the corpus once;
# MMR diversifies per query at serving time).

MMR_K = 5
MMR_POOL = 50
MMR_LAMBDA = 0.5   # exactly representable: 1-λ is exact in BOTH engines


def mmr_topk(emb: DataFrame, query_vec_id: int = 0, k: int = MMR_K,
             pool: int = MMR_POOL, lam: float = MMR_LAMBDA) -> DataFrame:
    """Maximal-Marginal-Relevance top-k: pool = exact cosine top-`pool`
    (cosine_topk's rounded/tie-broken rule), then k greedy picks of
    argmax  λ·rel(v) − (1−λ)·max_{s∈picked} cos(v,s), ties to the
    lowest vec_id.

    Scale shape: the DISTRIBUTED work is the corpus-wide relevance
    scan (cosine_topk: broadcast query + TakeOrderedAndProject) and
    the pool×pool cosine matrix (pool² = 2.5k dots — a broadcast
    self-join over 50 rows). The greedy selection itself runs on
    collected pool-sized state — O(pool·k) scalars, model-state by
    construction (pool is a constant, like the k-means codebook), NOT
    a corpus-sized collect. At 100 TB only the relevance scan grows.

    Determinism: rel and pairwise cos are the module's exact-unit
    doubles rounded to 6dp; λ = 0.5 so λ and 1−λ are exactly
    representable and the score arithmetic (two multiplies, one
    subtract, MAX) is bit-identical in Python, Spark, and DuckDB.
    The score is emitted UNROUNDED: 0.5 × a 6dp value has a 7th
    decimal digit of exactly 0 or 5, so any round-6 would sit on the
    half-even (Python) vs half-away (engines) boundary by
    construction — the one place the usual round-6 rule is unsafe.
    """
    # collect the pool FIRST: the corpus-wide relevance scan is the
    # one stage that grows at 100 TB, and feeding rel_df lazily into
    # the pairwise job re-executed it once per consumer (2-3 full
    # scans per call); the pairwise job instead probes the corpus
    # with a 50-id IN-filter that pushes to the parquet scan
    rel = {r["vec_id"]: r["cos_sim"]
           for r in cosine_topk(emb, query_vec_id, k=pool).collect()}
    if not rel:
        return emb.sparkSession.createDataFrame(
            [], "rank int, vec_id bigint, relevance double, score double")
    pool_emb = (emb.filter(F.col("vec_id").isin(*rel))
                .select("vec_id", "embedding",
                        F.expr(_norm_sql("embedding")).alias("_nrm")))
    a = pool_emb.select(F.col("vec_id").alias("_va"),
                        F.col("embedding").alias("_ea"),
                        F.col("_nrm").alias("_na"))
    b = pool_emb.select(F.col("vec_id").alias("_vb"),
                        F.col("embedding").alias("_eb"),
                        F.col("_nrm").alias("_nb"))
    pc_df = (a.join(F.broadcast(b), F.col("_va") < F.col("_vb"))
             .select("_va", "_vb",
                     F.round(F.expr(_dot_sql("_ea", "_eb"))
                             / (F.col("_na") * F.col("_nb")), 6)
                      .alias("_cs")))
    pc = {(r["_va"], r["_vb"]): r["_cs"] for r in pc_df.collect()}
    picked: list[tuple] = []
    chosen: list[int] = []
    for rank in range(1, min(k, len(rel)) + 1):
        best = None
        for v in sorted(rel):
            if v in chosen:
                continue
            if chosen:
                red = max(pc[(min(v, s), max(v, s))] for s in chosen)
                score = lam * rel[v] - (1 - lam) * red
            else:
                score = lam * rel[v]
            # strict > keeps the FIRST (lowest-id) argmax on ties
            if best is None or score > best[0]:
                best = (score, v)
        score, v = best
        chosen.append(v)
        picked.append((rank, v, rel[v], score))
    return emb.sparkSession.createDataFrame(
        picked, "rank int, vec_id bigint, relevance double, score double")


def semantic_dedup_fast(emb: DataFrame,
                        n_cells: int | None = None,
                        threshold: float = SEMANTIC_DEDUP_TAU) -> DataFrame:
    """The PRODUCTION variant of semantic_dedup: identical algorithm
    (first-c codebook, argmax-dot cells, intra-cell earlier-member
    cosine prune) scored in float32 numpy inside Arrow batches
    instead of the exact-decimal SQL kernel. SCALING.md documents the
    decimal rule as the dominant constant of the exact form — this is
    the variant that drops it where the oracle gate isn't the point:
    a dedup THRESHOLD decision tolerates 1e-6-level score noise by
    construction (SemDeDup's τ is a tuned hyperparameter, not a
    boundary with meaning at the 7th decimal).

    Plan shape (unchanged from the exact form, Python moved inside
    Arrow batches): centroids collect once (O(model), the codebook
    precedent) and broadcast inside the closure; assignment is
    mapInPandas — one (batch×d)·(d×c) matmul per Arrow batch, zero
    shuffle; the pair scan is applyInPandas per CELL — one m×m gram
    matrix per group, m bounded by the √N cell rule, cell id the only
    shuffle key. Same exchanges, ~vectorized-BLAS constants.

    Not oracle-paired (float32 accumulation order is engine- and
    library-specific); correctness is pinned by
    tests/test_round4_ops.py: flags must agree with the exact
    semantic_dedup for every vector whose max-cosine sits more than a
    float32-honest margin away from τ. The same noise applies to the
    argmax CELL assignment: a vector whose top-two centroid dots are
    within float32 accumulation error may land in a different cell
    than the exact form (and its flag may then differ beyond the τ
    margin) — acceptable for SemDeDup, where near-tied assignments
    mean the vector sits on a cell boundary and either neighborhood
    is a valid comparison set; the agreement test tolerates a ≤1%
    divergent-cell tail for exactly this reason.

    Returns (vec_id, cell, max_earlier_cos float, is_dup).
    """
    import numpy as np
    import pandas as pd

    if n_cells is None:
        n_cells = semantic_cells(emb.count())
    cent_rows = (emb.filter(F.col("vec_id") < n_cells)
                 .select("vec_id", "embedding").orderBy("vec_id").collect())
    cents = np.array([r["embedding"] for r in cent_rows],
                     dtype=np.float32).T          # (d, c)

    def _assign(batches):
        for pdf in batches:
            m = np.array(pdf["embedding"].tolist(), dtype=np.float32)
            dots = m @ cents                       # (batch, c)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "cell": dots.argmax(axis=1).astype("int32"),
                "embedding": pdf["embedding"],
            })

    assigned = _spread(emb).select("vec_id", "embedding").mapInPandas(
        _assign, schema="vec_id long, cell int, embedding array<float>")

    def _prune(pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = np.array(pdf["embedding"].tolist(), dtype=np.float32)
        nrm = np.linalg.norm(m, axis=1)
        cos = (m @ m.T) / np.outer(nrm, nrm)
        # earlier members only: strict lower triangle
        mask = np.tril(np.ones(len(pdf), dtype=bool), k=-1)
        best = np.where(mask, cos, -np.inf).max(axis=1)
        return pd.DataFrame({
            "vec_id": pdf["vec_id"],
            "cell": pdf["cell"],
            "max_earlier_cos": np.where(np.isfinite(best), best, np.nan),
            "is_dup": np.isfinite(best) & (best >= threshold),
        })

    return (assigned.groupBy("cell").applyInPandas(
        _prune,
        schema="vec_id long, cell int, max_earlier_cos float, is_dup boolean")
        .orderBy("vec_id"))


# --- round-5 operators ------------------------------------------------

# registered-query bound for the exact-N² baseline: 300 vectors
# (~45k unordered pairs through the exact decimal kernel — measured
# ~3.5 s at sf0.1 vs 81 s unbounded at 2000 vectors) keeps the demo
# exact AND bounded; the production path is candidate-bounded (see
# hard_negative_mining docstring)
HNM_MAX_VECS = 300


def hard_negative_mining(emb: DataFrame) -> DataFrame:
    """Contrastive-pair mining over (embedding, label): for every
    vector, its hardest NEGATIVE (highest-cosine vector with a
    different label) and hardest POSITIVE (lowest-cosine vector with
    the same label) — the pairs a contrastive/metric-learning stage
    trains on (triplet mining à la FaceNet, applied corpus-wide).

    This is the EXACT brute-force baseline (the cosine_topk
    precedent): an N² pair scan with the module's exact-unit decimal
    cosine, per-vector argmax via a vec_id-keyed rank window
    (hash-distributed TakeOrdered — no global sort). The 100 TB path
    swaps the cross join for the cell-bounded pair scan
    (semantic_dedup's √N cells) or the sign-LSH candidate state
    (embedding_near_dup): same downstream argmax over a
    candidate-bounded pair set. Ties break on the partner id, so the
    selected pair — not just its score — is engine-exact.
    """
    base = _spread(emb).select(
        "vec_id", "label", "embedding",
        F.expr(_norm_sql("embedding")).alias("_n"))
    a = base.select(F.col("vec_id").alias("_va"),
                    F.col("label").alias("_la"),
                    F.col("embedding").alias("_ea"),
                    F.col("_n").alias("_na"))
    b = base.select(F.col("vec_id").alias("_vb"),
                    F.col("label").alias("_lb"),
                    F.col("embedding").alias("_eb"),
                    F.col("_n").alias("_nb"))
    # cosine evaluated ONCE per unordered pair (va < vb), then
    # mirrored ROW-LOCALLY via a 2-element explode (a union of the
    # half-join would re-evaluate the decimal kernel per branch —
    # Spark does not share subplans across union legs). cos(a,b) is
    # symmetric by construction: the unit dot is an order-fixed fold
    # of exact products and na·nb == nb·na in IEEE.
    half = (a.join(b, F.col("_va") < F.col("_vb"))
            .select("_va", "_la", "_vb", "_lb",
                    (F.expr(_dot_sql("_ea", "_eb"))
                     / (F.col("_na") * F.col("_nb"))).alias("_cos")))
    pairs = (half.select(F.explode(F.array(
        F.struct(F.col("_va"), F.col("_la"),
                 F.col("_vb"), F.col("_lb"), F.col("_cos")),
        F.struct(F.col("_vb").alias("_va"), F.col("_lb").alias("_la"),
                 F.col("_va").alias("_vb"), F.col("_la").alias("_lb"),
                 F.col("_cos")))).alias("_s"))
        .select("_s.*"))
    wn = W.partitionBy("_va").orderBy(F.desc("_cos"), F.asc("_vb"))
    wp = W.partitionBy("_va").orderBy(F.asc("_cos"), F.asc("_vb"))
    neg = (pairs.filter(F.col("_la") != F.col("_lb"))
           .withColumn("_rn", F.row_number().over(wn))
           .filter(F.col("_rn") == 1)
           .select(F.col("_va").alias("vec_id"),
                   F.col("_vb").alias("hn_id"),
                   F.round("_cos", 6).alias("hn_cos")))
    pos = (pairs.filter(F.col("_la") == F.col("_lb"))
           .withColumn("_rn", F.row_number().over(wp))
           .filter(F.col("_rn") == 1)
           .select(F.col("_va").alias("vec_id"),
                   F.col("_vb").alias("hp_id"),
                   F.round("_cos", 6).alias("hp_cos")))
    return (base.select("vec_id", "label")
            .join(neg, "vec_id", "left")
            .join(pos, "vec_id", "left")
            .orderBy("vec_id"))


def hard_negative_mining_lsh(emb: DataFrame,
                             n_cells: int | None = None) -> DataFrame:
    """Candidate-bounded hard-negative/positive mining — the
    PRODUCTION form of hard_negative_mining: the
    pair set is restricted to SemDeDup cells (the semantic_dedup
    assignment — argmax-dot against the deterministic first-c
    codebook, c ~ √N per semantic_cells), so per-vector candidates
    are its cell peers and total pair work is ~N^1.5, never N².
    Inside the candidate set the kernel is the SAME exact decimal
    cosine and (cos, partner-id) tie rule as the N² baseline — the
    approximation is purely in candidate recall, the classic
    ANN-for-mining trade (a vector whose true hardest negative lives
    in another cell gets its hardest IN-CELL negative instead; cells
    group by dot-similarity, so high-cosine partners co-locate).

    Scale shape: one broadcast codebook join + vec_id argmax window,
    one cell-keyed shuffle for the intra-cell pair scan, vec_id-keyed
    argmax windows — no unbounded self-join anywhere (contrast
    hard_negative_mining's registered N² demo, which is bounded to
    HNM_MAX_VECS vectors for exactly that reason). Vectors alone in
    their cell emit null pairs, like a vector with no same-label peer
    in the baseline.
    """
    if n_cells is None:
        # last-resort sizing only: callers should pass n_cells from
        # catalog statistics (io.table_num_rows reads the parquet
        # footer — zero Spark jobs) so NO job runs before the main one
        n_cells = semantic_cells(emb.count())
    cents = _guarded_codebook(emb, n_cells, "hard_negative_mining_lsh")
    cl = (_semantic_cells_frame(emb, cents)
          .join(emb.select("vec_id", "label"), "vec_id"))
    a = cl.select(F.col("vec_id").alias("_va"),
                  F.col("label").alias("_la"),
                  F.col("cell").alias("_ca"),
                  F.col("embedding").alias("_ea"),
                  F.col("_nrm").alias("_na"))
    b = cl.select(F.col("vec_id").alias("_vb"),
                  F.col("label").alias("_lb"),
                  F.col("cell").alias("_cb"),
                  F.col("embedding").alias("_eb"),
                  F.col("_nrm").alias("_nb"))
    # cosine once per unordered intra-cell pair, mirrored row-locally
    # (the hard_negative_mining explode rule — union legs would
    # re-evaluate the decimal kernel)
    half = (a.join(b, (F.col("_ca") == F.col("_cb"))
                   & (F.col("_va") < F.col("_vb")))
            .select("_va", "_la", "_vb", "_lb",
                    (F.expr(_dot_sql("_ea", "_eb"))
                     / (F.col("_na") * F.col("_nb"))).alias("_cos")))
    pairs = (half.select(F.explode(F.array(
        F.struct(F.col("_va"), F.col("_la"),
                 F.col("_vb"), F.col("_lb"), F.col("_cos")),
        F.struct(F.col("_vb").alias("_va"), F.col("_lb").alias("_la"),
                 F.col("_va").alias("_vb"), F.col("_la").alias("_lb"),
                 F.col("_cos")))).alias("_s"))
        .select("_s.*"))
    wn = W.partitionBy("_va").orderBy(F.desc("_cos"), F.asc("_vb"))
    wp = W.partitionBy("_va").orderBy(F.asc("_cos"), F.asc("_vb"))
    neg = (pairs.filter(F.col("_la") != F.col("_lb"))
           .withColumn("_rn", F.row_number().over(wn))
           .filter(F.col("_rn") == 1)
           .select(F.col("_va").alias("vec_id"),
                   F.col("_vb").alias("hn_id"),
                   F.round("_cos", 6).alias("hn_cos")))
    pos = (pairs.filter(F.col("_la") == F.col("_lb"))
           .withColumn("_rn", F.row_number().over(wp))
           .filter(F.col("_rn") == 1)
           .select(F.col("_va").alias("vec_id"),
                   F.col("_vb").alias("hp_id"),
                   F.round("_cos", 6).alias("hp_cos")))
    return (emb.select("vec_id", "label")
            .join(neg, "vec_id", "left")
            .join(pos, "vec_id", "left")
            .orderBy("vec_id"))


def embedding_quantize_int8(emb: DataFrame) -> DataFrame:
    """Scalar int8 quantization audit: per-dimension [min, max] range
    codes (the vector-DB SQ8 compression rule), per-vector
    reconstruction RMSE and max absolute error — the quantization-
    loss report run before committing an index to 4×-compressed
    storage.

    Two passes, both cheap: pass 1 reduces the corpus to the
    per-dimension range MODEL (d rows — posexplode + min/max, exact
    on doubles); pass 2 broadcasts the d-row model as ONE sorted
    array and computes codes + errors row-locally (zip over the
    embedding array, fold in dimension order), so the corpus-sized
    stage is a pure map with zero shuffle. Determinism: min/max are
    exact; code/dequant/error are the identical IEEE sequence on
    both engines; per-vector folds run in dimension order.
    """
    base = _spread(emb)
    pe = (base.select("vec_id", F.posexplode("embedding")
                      .alias("pos0", "valf"))
          .select("vec_id", (F.col("pos0") + 1).alias("pos"),
                  F.col("valf").cast("double").alias("val")))
    stats = pe.groupBy("pos").agg(F.min("val").alias("mn"),
                                  F.max("val").alias("mx"))
    model = stats.agg(F.sort_array(
        F.collect_list(F.struct("pos", "mn", "mx"))).alias("_st"))
    x = F.col("embedding")
    dim = F.size("embedding")

    def _err(i):
        xv = F.element_at(x, i).cast("double")
        st = F.element_at(F.col("_st"), i)
        scale = (st["mx"] - st["mn"]) / F.lit(255.0)
        code = F.least(F.lit(255.0), F.greatest(
            F.lit(0.0), F.round((xv - st["mn"]) / scale)))
        return F.when(scale > 0,
                      xv - (st["mn"] + code * scale)
                      ).otherwise(xv - st["mn"])

    errs = F.transform(F.sequence(F.lit(1), dim), _err)
    sse = F.aggregate(F.transform(errs, lambda e: e * e),
                      F.lit(0.0), lambda acc, t: acc + t)
    return (base.crossJoin(F.broadcast(model))
            .select("vec_id",
                    F.round(F.sqrt(sse / dim.cast("double")), 6)
                     .alias("rmse"),
                    F.round(F.array_max(F.transform(errs, F.abs)), 6)
                     .alias("max_abs_err"))
            .orderBy("vec_id"))


def pca_power_iteration(emb: DataFrame, n_iter: int = 3) -> DataFrame:
    """Top principal component of the embedding corpus via power
    iteration on the centered covariance — the first step of PCA
    whitening / dim-reduction an embedding pipeline runs before
    indexing. Fixed n_iter iterations from the deterministic e₁ seed
    (the kmeans_train rule: fixed iterations + round-6 model values
    fed forward make the whole training loop oracle-checkable as
    unrolled CTEs, not just one step).

    Distributed shape per iteration — the classic two-matvec form:
    (1) score sᵢ = (xᵢ−μ)·v, a row-local fold against the BROADCAST
    d-vector (zero shuffle); (2) w = Σᵢ sᵢ(xᵢ−μ), one d-group
    aggregate with per-term DECIMAL casts so parallel accumulation
    order cannot move a bit; (3) normalize on the driver — O(d)
    MODEL state, never data (the kmeans_train collect rule).

    Returns (pos, mu, loading, eigval): the round-6 per-dimension
    mean, the round-6 unit loading after n_iter iterations, and the
    ‖w‖ eigenvalue estimate of the final iteration.
    """
    import math
    from decimal import Decimal, ROUND_HALF_UP

    from ..derive import DEC

    def _r6(x: float) -> float:
        # engine ROUND semantics: decimal HALF_UP (away from zero)
        # applied to the exact binary double
        return float(Decimal(x).quantize(Decimal("0.000001"),
                                         rounding=ROUND_HALF_UP))

    spark = emb.sparkSession
    base = _spread(emb)
    pe = (base.select("vec_id", F.posexplode("embedding")
                      .alias("pos0", "valf"))
          .select((F.col("pos0") + 1).alias("pos"),
                  F.col("valf").cast("double").alias("val")))
    mu_rows = (pe.groupBy("pos")
               .agg(F.round(F.sum(F.col("val").cast(DEC)).cast("double")
                            / F.count(F.lit(1)).cast("double"), 6)
                    .alias("mu"))
               .orderBy("pos").collect())
    mu = [r["mu"] for r in mu_rows]
    d = len(mu)
    v = [1.0] + [0.0] * (d - 1)
    eig = 0.0
    for _ in range(n_iter):
        mu_arr = F.array(*[F.lit(float(m)) for m in mu])
        v_arr = F.array(*[F.lit(float(x)) for x in v])
        s = F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(d)),
                lambda i: (F.element_at(F.col("embedding"), i)
                           .cast("double") - F.element_at(mu_arr, i))
                          * F.element_at(v_arr, i)),
            F.lit(0.0), lambda acc, t: acc + t)
        scored = base.select(
            F.posexplode("embedding").alias("pos0", "valf"),
            s.alias("_s"))
        terms = scored.select(
            (F.col("pos0") + 1).alias("pos"),
            ((F.col("valf").cast("double")
              - F.element_at(mu_arr, F.col("pos0") + 1)) * F.col("_s"))
            .alias("t"))
        w_rows = (terms.groupBy("pos")
                  .agg(F.sum(F.col("t").cast(DEC)).cast("double")
                       .alias("w"))
                  .orderBy("pos").collect())
        w = [r["w"] for r in w_rows]
        acc = 0.0
        for wi in w:           # pos-order fold, mirrors the SQL twin
            acc += wi * wi
        nrm = math.sqrt(acc)
        v = [_r6(wi / nrm) for wi in w]
        eig = _r6(nrm)
    return spark.createDataFrame(
        [(i + 1, mu[i], v[i], eig) for i in range(d)],
        schema="pos int, mu double, loading double, eigval double")


KNN_K = 5            # neighbors per query vector
KNN_QUERY_MOD = 40   # query set = vec_id % mod == 0 (bounded, like HNM)


def knn_classify(emb: DataFrame, k: int = KNN_K,
                 query_mod: int = KNN_QUERY_MOD) -> DataFrame:
    """k-NN label prediction over the embedding table — the
    label-propagation / auto-labeling pass a curation pipeline runs
    to QA human labels or extend them to unlabeled data (Fix & Hodges
    k-NN; the evaluation twin of hard_negative_mining). For each
    query vector (the bounded `vec_id % query_mod == 0` set — the
    HNM_MAX_VECS precedent: exact brute force is the oracle-gated
    BASELINE, the production path is the IVF/LSH-bounded candidate
    scan), rank the rest of the corpus by exact decimal cosine, take
    the top `k`, and vote: majority label, ties broken toward the
    smaller label id so the prediction — not just its score — is
    engine-exact.

    Scale: |Q|·N cosine rows where |Q| is the bounded query set; the
    rank window is per-query TakeOrdered (no global sort), votes are
    a k-row-per-query aggregate, and the corpus side is never joined
    to itself. Swap the cross join for ivf_topk's cell probe to make
    Q the full corpus at 100 TB.

    Returns (vec_id, label, pred_label, n_votes, top1_id, top1_cos,
    is_correct) ordered by vec_id."""
    base = _spread(emb).select(
        "vec_id", "label", "embedding",
        F.expr(_norm_sql("embedding")).alias("_n"))
    q = (base.filter(F.col("vec_id") % query_mod == 0)
         .select(F.col("vec_id").alias("_qv"),
                 F.col("label").alias("_ql"),
                 F.col("embedding").alias("_qe"),
                 F.col("_n").alias("_qn")))
    c = base.select(F.col("vec_id").alias("_cv"),
                    F.col("label").alias("_cl"),
                    F.col("embedding").alias("_ce"),
                    F.col("_n").alias("_cn"))
    pairs = (q.join(c, F.col("_qv") != F.col("_cv"))
             .select("_qv", "_ql", "_cv", "_cl",
                     (F.expr(_dot_sql("_qe", "_ce"))
                      / (F.col("_qn") * F.col("_cn"))).alias("_cos")))
    wk = W.partitionBy("_qv").orderBy(F.desc("_cos"), F.asc("_cv"))
    # checkpoint the k·|Q|-row top-k frame: it feeds BOTH the vote
    # aggregate and the top-1 extraction, and without the barrier the
    # full |Q|·N decimal pair scan re-executes per consumer (measured
    # 27.6 s -> 4.9 s at sf0.1). At scale this is the persisted
    # neighbor list every k-NN system materializes anyway.
    from ..functions.checkpoints import iter_checkpoint
    top = iter_checkpoint(
        pairs.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k), eager=True)
    votes = top.groupBy("_qv", "_ql", "_cl").agg(
        F.count(F.lit(1)).cast("long").alias("_nv"))
    wv = W.partitionBy("_qv").orderBy(F.desc("_nv"), F.asc("_cl"))
    pred = (votes.withColumn("_vr", F.row_number().over(wv))
            .filter(F.col("_vr") == 1))
    t1 = (top.filter(F.col("_rn") == 1)
          .select("_qv", F.col("_cv").alias("top1_id"),
                  F.round("_cos", 6).alias("top1_cos")))
    return (pred.join(t1, "_qv")
            .select(F.col("_qv").alias("vec_id"),
                    F.col("_ql").alias("label"),
                    F.col("_cl").alias("pred_label"),
                    F.col("_nv").alias("n_votes"),
                    "top1_id", "top1_cos",
                    (F.col("_ql") == F.col("_cl")).alias("is_correct"))
            .orderBy("vec_id"))


def embedding_drift_report(emb: DataFrame) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots — the
    check an embedding pipeline runs when a new model version or data
    batch lands: split the table into reference (even vec_id) and
    candidate (odd vec_id) halves, compute each half's per-dimension
    mean through the module's exact decimal sums, and report the
    centroid cosine, centroid L2 gap, per-dim mean absolute shift,
    and the dimension that moved most. Decimal accumulation makes
    every number independent of partial-agg order, so an engine can't
    move a hash bit (the dsum rule applied to model state).

    Scale: two corpus-wide (dim-keyed) aggregates over the posexploded
    view — O(N·d) map-side-combined rows into a d-row model; every
    downstream step is on the d-row frame. At 100 TB the halves would
    be two table versions; the shape is unchanged.

    Returns ONE row: (n_ref, n_cand, centroid_cos, centroid_l2,
    mean_abs_shift, max_shift_dim, max_abs_shift)."""
    pe = (_spread(emb)
          .select("vec_id",
                  F.posexplode("embedding").alias("pos", "val"))
          .select("vec_id", "pos", F.col("val").cast("double").alias("val"),
                  (F.col("vec_id") % 2 == 0).alias("_ref")))
    per_dim = (pe.groupBy("pos")
               .agg(F.sum(F.when(F.col("_ref"), F.col("val"))
                          .cast("decimal(38,10)")).alias("_sr"),
                    F.sum(F.when(F.col("_ref"), 1).otherwise(0))
                     .alias("_nr"),
                    F.sum(F.when(~F.col("_ref"), F.col("val"))
                          .cast("decimal(38,10)")).alias("_sc"),
                    F.sum(F.when(~F.col("_ref"), 1).otherwise(0))
                     .alias("_nc"))
               .select("pos",
                       (F.col("_sr").cast("double") / F.col("_nr"))
                       .alias("mr"),
                       (F.col("_sc").cast("double") / F.col("_nc"))
                       .alias("mc"), "_nr", "_nc"))
    w_dim = W.orderBy(F.desc(F.abs(F.col("mc") - F.col("mr"))),
                      F.asc("pos"))
    ranked = per_dim.withColumn("_rk", F.row_number().over(w_dim))
    return (ranked.agg(
        F.max("_nr").cast("long").alias("n_ref"),
        F.max("_nc").cast("long").alias("n_cand"),
        F.round(F.sum((F.col("mr") * F.col("mc")).cast("decimal(38,10)"))
                .cast("double")
                / (F.sqrt(F.sum((F.col("mr") * F.col("mr")).cast("decimal(38,10)"))
                          .cast("double"))
                   * F.sqrt(F.sum((F.col("mc") * F.col("mc"))
                                  .cast("decimal(38,10)")).cast("double"))), 6)
         .alias("centroid_cos"),
        F.round(F.sqrt(F.sum(((F.col("mc") - F.col("mr"))
                              * (F.col("mc") - F.col("mr"))).cast("decimal(38,10)"))
                       .cast("double")), 6).alias("centroid_l2"),
        F.round(F.sum(F.abs(F.col("mc") - F.col("mr")).cast("decimal(38,10)"))
                .cast("double") / F.count(F.lit(1)), 6)
         .alias("mean_abs_shift"),
        F.max(F.when(F.col("_rk") == 1, F.col("pos"))).cast("long")
         .alias("max_shift_dim"),
        F.round(F.max(F.when(F.col("_rk") == 1,
                             F.abs(F.col("mc") - F.col("mr")))), 6)
         .alias("max_abs_shift")))


def ivf_balance_report(emb: DataFrame,
                       n_cells: int = N_IVF_CELLS) -> DataFrame:
    """Cell-occupancy skew report for the IVF index — the health
    check that decides whether the coarse quantizer needs retraining
    before the index ships: a skewed cell list means one probe does
    most of the scan work (the ANN twin of a hot shuffle key), and at
    100 TB a 10× heavy cell is a 10× slower p99 probe.

    Plan: ivf_assign's shuffle-free argmax map, ONE groupBy(cell)
    count (key space = n_cells), and a broadcast of the n_cells-row
    total — nothing here scales with corpus size except the linear
    assignment scan. share and load_factor (occupancy ÷ ideal uniform
    occupancy) are single-division doubles of exact BIGINT counts.

    Returns (cell, n_vecs, share, load_factor) ordered by n_vecs
    desc, cell.
    """
    from pyspark.sql import Window as W
    counts = (ivf_assign(emb, n_cells)
              .groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs")))
    # total as a window over the n_cells-row counts frame: ONE
    # evaluation of the assignment scan (a separate agg + crossJoin
    # re-derived the whole argmax pipeline — measured as 2× scans)
    tot = F.sum("n_vecs").over(W.partitionBy(F.lit(0)))
    return (counts.withColumn("_tot", tot)
            .select("cell", "n_vecs",
                    F.round(F.col("n_vecs").cast("double")
                            / F.col("_tot"), 6).alias("share"),
                    F.round((F.col("n_vecs") * n_cells).cast("double")
                            / F.col("_tot"), 6).alias("load_factor"))
            .orderBy(F.desc("n_vecs"), F.asc("cell")))
