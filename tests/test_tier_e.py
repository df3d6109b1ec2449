"""Tier-E tests: dedup, similarity, text analysis, multimodal plumbing
on tiny in-memory frames."""

import pytest

from etl_portfolio_tracker_spark import schemas
from etl_portfolio_tracker_spark.operators import dedup as DD
from etl_portfolio_tracker_spark.operators import multimodal as MM
from etl_portfolio_tracker_spark.operators import similarity as SIM
from etl_portfolio_tracker_spark.operators import text as TX


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        schema=schemas.DOCUMENTS)


def test_exact_dedup(spark):
    d = docs_df(spark, ["hello world", "hello world", "other text"])
    out = {r["keep_id"]: r["n_copies"] for r in DD.exact_dedup(d).collect()}
    assert out == {0: 2, 2: 1}


def test_ngram_jaccard_identical_and_disjoint(spark):
    d = docs_df(spark, ["abcdefghij", "abcdefghij", "zzzzzzzzzz"])
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["doc_a"], p["doc_b"], p["jaccard"]) == (0, 1, 1.0)


def test_minhash_identical_docs_all_bands_agree(spark):
    d = docs_df(spark, ["the quick brown fox jumps", "the quick brown fox jumps",
                        "completely different words here"])
    cands = {(r["doc_a"], r["doc_b"]): r["n_bands"]
             for r in DD.minhash_lsh_candidates(d).collect()}
    assert cands.get((0, 1)) == DD.MINHASH_SEEDS // DD.LSH_BAND_ROWS
    assert (0, 2) not in cands and (1, 2) not in cands


def test_minhash_verified_keeps_only_true_near_dups(spark):
    # docs 0/1 identical (jaccard 1.0), doc 2 shares nothing; the LSH
    # candidate (0,1) survives the exact verify, and no spurious pair
    # appears even at threshold 0
    d = docs_df(spark, ["the quick brown fox jumps over the lazy dog",
                        "the quick brown fox jumps over the lazy dog",
                        "zzzz xxxx yyyy wwww vvvv uuuu tttt ssss"])
    rows = DD.minhash_verified(d).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows] == [(0, 1, 1.0)]


@pytest.mark.parametrize("fake_hash, message", [
    # every shingle hashes alike: the xxhash64 guard fires
    (lambda c: DD.F.lit(7).cast("bigint"), "xxhash64 collision"),
    # distinct hashes with no bits above the 20th: the packed element
    # is the weight alone, and shingles of equal weight collide
    (lambda c: DD.F.crc32(c) % (1 << 20), "44-bit same-weight collision"),
], ids=["xxhash64", "packed"])
def test_verify_guards_fail_loudly_on_collision(spark, monkeypatch,
                                                fake_hash, message):
    d = docs_df(spark, ["the quick brown fox jumps over the lazy dog",
                        "the quick brown fox jumps over the lazy cat",
                        "zzzz xxxx yyyy wwww vvvv uuuu tttt ssss"])
    cands = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    monkeypatch.setattr(DD.F, "xxhash64", fake_hash)
    with pytest.raises(Exception, match=message):
        DD.verify_candidates(d, cands=cands).collect()


def test_minhash_bucket_cap_drops_boilerplate_buckets(spark):
    # 4 identical docs share every band bucket (size 4); cap=3 drops
    # those buckets so no pairs are enumerated; default cap keeps all
    # 6 pairs. Pair output stays bounded on mass-duplicated corpora.
    d = docs_df(spark, ["same boilerplate text here"] * 4)
    assert DD.minhash_lsh_candidates(d, bucket_cap=3).count() == 0
    assert DD.minhash_lsh_candidates(d).count() == 6


def test_simhash_identical_equal(spark):
    d = docs_df(spark, ["alpha beta gamma", "alpha beta gamma", "delta epsilon"])
    s = {r["doc_id"]: r["simhash"] for r in DD.simhash(d).collect()}
    assert s[0] == s[1] and s[0] != s[2]
    assert all(0 <= v < 2 ** 32 for v in s.values())


def emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        schema=schemas.EMBEDDINGS)


def test_cosine_topk_orders_by_similarity(spark):
    e = emb_df(spark, [[1, 0, 0], [1, 0.01, 0], [0, 1, 0], [-1, 0, 0]])
    got = [r["vec_id"] for r in SIM.cosine_topk(e, 0, k=3).collect()]
    assert got == [1, 2, 3]  # near-parallel, orthogonal, antiparallel


def test_lsh_buckets_identical_vectors_collide(spark):
    e = emb_df(spark, [[1, 2, 3], [1, 2, 3], [-9, 4, -7]])
    b = {r["vec_id"]: r["bucket"] for r in SIM.lsh_buckets(e).collect()}
    assert b[0] == b[1]
    pairs = {(r["vec_a"], r["vec_b"]) for r in SIM.embedding_near_dup_pairs(e).collect()}
    assert (0, 1) in pairs


def test_near_dup_bucket_cap_drops_degenerate_buckets(spark):
    # 6 identical vectors → one band-bucket of 6 in every band; with
    # cap=5 the bucket is dropped and no pairs survive, with the
    # default cap all 15 pairs do.  The cap is the hard bound that
    # keeps worst-case pairing sub-quadratic at scale.
    e = emb_df(spark, [[1, 2, 3]] * 6)
    assert SIM.embedding_near_dup_pairs(e, bucket_cap=5).count() == 0
    assert SIM.embedding_near_dup_pairs(e).count() == 15


def test_near_dup_verified_filters_by_exact_cosine(spark):
    # candidates: (0,1) identical (cos=1), (0,2)/(1,2) opposite-ish —
    # all three collide in some band only if signs agree; identical
    # vectors always pair and survive any threshold ≤ 1
    e = emb_df(spark, [[1, 2, 3], [1, 2, 3], [-1, -2, -3]])
    rows = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
            for r in SIM.embedding_near_dup_verified(e, threshold=0.9).collect()}
    assert rows.get((0, 1)) == 1.0
    assert all(k == (0, 1) for k in rows)


def test_near_dup_banding_unions_per_band_candidates(spark):
    # Pairs are DISTINCT across bands: identical vectors collide in
    # both bands but each pair appears once.
    e = emb_df(spark, [[1, 2, 3], [1, 2, 3], [1, 2, 3]])
    rows = SIM.embedding_near_dup_pairs(e).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert sorted(pairs) == [(0, 1), (0, 2), (1, 2)]
    assert len(pairs) == len(set(pairs))


def test_quality_and_tokens(spark):
    d = docs_df(spark, ["the cat of doom", "xyz"])
    q = {r["doc_id"]: r for r in TX.quality_score(d).collect()}
    assert q[0]["n_tokens"] == 4 and q[0]["n_stopwords"] == 2
    assert q[0]["stopword_ratio"] == 0.5
    t = {r["doc_id"]: r for r in TX.token_stats(d).collect()}
    assert t[0]["n_ws_tokens"] == 4 and t[1]["n_word_tokens"] == 1


def test_pii_scrub_redacts_and_counts(spark):
    d = docs_df(spark, [
        "contact me at jane.doe@example.com or +1 (555) 123-4567",
        "server at 192.168.1.100 responded",
        "no pii in this one",
    ])
    out = {r["doc_id"]: r for r in TX.pii_scrub(d).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_phone"] >= 1
    assert out[1]["n_ip"] == 1 and out[1]["n_email"] == 0
    assert out[2]["n_email"] == out[2]["n_ip"] == out[2]["n_phone"] == 0
    # identity scrub on clean text: md5 equals the raw text's md5
    import hashlib
    assert out[2]["scrubbed_md5"] == hashlib.md5(b"no pii in this one").hexdigest()


def test_gopher_filter_flags(spark):
    d = docs_df(spark, [
        "the cat sat on the mat with a dog and a bird today",  # keeps
        "word",                                  # too short (ok_len False)
        "spam spam spam spam spam spam spam spam",  # repetition + no stopwords
    ])
    out = {r["doc_id"]: r for r in TX.gopher_filter(d).collect()}
    assert out[0]["keep"] is True
    assert out[1]["ok_len"] is False and out[1]["keep"] is False
    assert out[2]["ok_repetition"] is False and out[2]["keep"] is False


def test_contamination_check_flags_probe_overlap(spark):
    # doc 0 is the probe (0 % 50 == 0); docs 1-2 are train: doc 1
    # shares a 5-gram with the probe, doc 2 does not.
    d = docs_df(spark, [
        "alpha beta gamma delta epsilon zeta",
        "prefix alpha beta gamma delta epsilon suffix",
        "completely different words with no shared five gram runs"])
    out = {r["doc_id"]: r for r in TX.contamination_check(d).collect()}
    assert set(out) == {1, 2}            # probe doc excluded from output
    assert out[1]["contaminated"] is True and out[1]["n_probe_hits"] >= 1
    assert out[2]["contaminated"] is False and out[2]["n_probe_hits"] == 0


def test_language_id_markers(spark):
    d = docs_df(spark, ["der hund und die katze ist", "the dog and the cat"])
    out = {r["doc_id"]: r["lang_pred"] for r in TX.language_id(d).collect()}
    assert out == {0: "de", 1: "en"}


def test_multimodal_decode_plumbing(spark):
    d = docs_df(spark, ["payload one", "payload two longer"])
    media = MM.docs_as_media(d)
    decoded = {r["media_id"]: r for r in MM.decode_media(media).collect()}
    assert decoded[0]["n_bytes"] == len("payload one")
    assert decoded[0]["magic_hex"] == "payl".encode().hex()
    # deterministic fake decode is stable
    assert decoded[0]["decoded_width"] == len("payload one") % 640 + 1
    meta = {r["media_id"]: r["n_bytes"] for r in MM.media_meta(media).collect()}
    assert meta == {0: 11, 1: 18}


def test_tfidf_top_terms_ranking(spark):
    # "rare" appears once in doc0 only (df=1); "common" in all docs.
    d = docs_df(spark, ["rare common common", "common", "common"])
    rows = {(r["doc_id"], r["rank"]): r
            for r in TX.tfidf_top_terms(d, k=2, max_doc_id=1).collect()}
    # doc0: common tf=2 wins on tf; rare tf=1 df=1 second
    assert rows[(0, 1)]["term"] == "common" and rows[(0, 1)]["tf"] == 2
    assert rows[(0, 2)]["term"] == "rare" and rows[(0, 2)]["df"] == 1
    assert rows[(0, 1)]["n_docs"] == 3
    assert set(r[0] for r in rows) == {0}  # bounded to doc_id < 1


def test_min_label_components_transitive(spark):
    # chain 1-2-3 (no direct 1-3 edge), pair 4-5, singleton 6: the
    # propagation must collapse the chain transitively.
    from pyspark.sql import functions as F
    pairs = [(1, 2), (2, 3), (4, 5)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "doc_a long, doc_b long")
    labels0 = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long") \
        .withColumn("cluster_id", F.col("doc_id"))
    out = {r["doc_id"]: r["cluster_id"]
           for r in DD.min_label_components(labels0, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_min_label_components_long_path_exact(cc_graph):
    # diameter 44: one step per round needs 44 rounds to carry label 0
    # to the far end plus one to see the fixpoint, inside the budget
    labels0, edges = cc_graph([(i, i + 1) for i in range(44)], 45)
    out = {r["doc_id"]: r["cluster_id"]
           for r in DD.min_label_components(labels0, edges).collect()}
    assert out == {i: 0 for i in range(45)}


def test_min_label_components_raises_past_round_budget(cc_graph):
    # unconverged labels are wrong clusters: running out of rounds
    # must fail loudly, naming the budget
    labels0, edges = cc_graph([(i, i + 1) for i in range(44)], 45)
    with pytest.raises(RuntimeError, match="max_iter=3 rounds"):
        DD.min_label_components(labels0, edges, max_iter=3)


def test_dedup_clusters_exact_dups_collapse(spark):
    # two identical-text groups + one distinct doc: identical texts
    # share every band, so each group is one cluster keyed by its
    # smallest doc_id; the distinct doc stays a singleton.
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different content about spark physical planning"
    d = docs_df(spark, [t1, t1, t2, t1, "unique snowflake text here ok"])
    out = {r["doc_id"]: r["cluster_id"]
           for r in DD.dedup_clusters(d).collect()}
    assert out[0] == out[1] == out[3] == 0
    assert out[2] == 2 and out[4] == 4
    # keep-one-per-cluster = filter(doc_id == cluster_id)
    kept = {k for k, v in out.items() if k == v}
    assert kept == {0, 2, 4}


def test_hash_split_deterministic_and_bounded(spark):
    d = docs_df(spark, [f"document number {i}" for i in range(50)]
                + ["document number 0"])  # duplicate text, new id
    rows = DD.hash_split(d).collect()
    assert all(0 <= r["bucket"] < 100 for r in rows)
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    by_id = {r["doc_id"]: r for r in rows}
    # content-stable: identical text → identical bucket/split even
    # though the doc_id differs (the anti-leakage property)
    assert by_id[50]["bucket"] == by_id[0]["bucket"]
    assert by_id[50]["split"] == by_id[0]["split"]


def test_leakage_safe_split_cluster_atomic(spark):
    # near-identical texts (same shingle sets → same LSH buckets) must
    # land in ONE split; the split equals the hash_split bucket of the
    # cluster canonical's text (min doc_id member).
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different content about spark physical planning"
    d = docs_df(spark, [t1, t1, t2, t1, "unique snowflake text here ok"])
    rows = DD.leakage_safe_split(d).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(by_id) == 5
    # whole cluster {0,1,3} shares one split and one bucket
    assert ({by_id[i]["split"] for i in (0, 1, 3)}
            == {by_id[0]["split"]})
    assert ({by_id[i]["bucket"] for i in (0, 1, 3)}
            == {by_id[0]["bucket"]})
    # each cluster's bucket is the canonical text's hash_split bucket
    hs = {r["doc_id"]: r for r in DD.hash_split(d).collect()}
    for r in rows:
        assert r["bucket"] == hs[r["cluster_id"]]["bucket"]
        assert r["split"] == hs[r["cluster_id"]]["split"]


def test_kmeans_step_means_and_population(spark):
    import pandas as pd
    emb = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": list(range(6)),
            "embedding": [[1.0, 0.0], [0.0, 1.0],   # centroids 0, 1
                          [1.0, 0.1], [0.9, 0.0],   # near centroid 0
                          [0.0, 0.9], [0.1, 1.0]],  # near centroid 1
        }))
    out = SIM.kmeans_step(emb, n_cells=2).collect()
    cells = {(r["cell"], r["pos"]): r for r in out}
    # every (cell, pos) present, population sums to n_vecs per pos
    assert set(cells) == {(0, 1), (0, 2), (1, 1), (1, 2)}
    assert cells[(0, 1)]["n_members"] + cells[(1, 1)]["n_members"] == 6
    # cell 0 members: vecs 0,2,3 → mean x = (1+1+0.9)/3
    assert abs(cells[(0, 1)]["c_val"] - round((1.0 + 1.0 + 0.9) / 3, 6)) < 1e-9
    assert abs(cells[(1, 2)]["c_val"] - round((1.0 + 0.9 + 1.0) / 3, 6)) < 1e-9


def test_kmeans_train_converges_to_cluster_means(spark):
    import pandas as pd
    # two tight 2-D blobs; seeds (vecs 0,1) start inside each blob
    blob_a = [[1.0, 0.0], [1.1, 0.0], [0.9, 0.1], [1.0, 0.1]]
    blob_b = [[0.0, 1.0], [0.0, 1.1], [0.1, 0.9], [0.1, 1.0]]
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(8)),
        "embedding": [blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:],
    }))
    out = SIM.kmeans_train(emb, n_cells=2, n_iter=3).collect()
    c = {(r["cell"], r["pos"]): r["c_val"] for r in out}
    n = {r["cell"]: r["n_members"] for r in out}
    assert n == {0: 4, 1: 4}
    # cell 0 = mean of blob_a, cell 1 = mean of blob_b
    assert abs(c[(0, 1)] - sum(v[0] for v in blob_a) / 4) < 1e-6
    assert abs(c[(1, 2)] - sum(v[1] for v in blob_b) / 4) < 1e-6


def test_min_label_components_random_graphs_vs_union_find(spark):
    # randomized (seeded) adversarial check of the propagation kernel
    # against a plain union-find oracle
    import random
    from pyspark.sql import functions as F
    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(rng.randint(5, 40))})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        expected = {i: min(j for j in range(n) if find(j) == find(i))
                    for i in range(n)}
        sym = edges + [(b, a) for a, b in edges]
        edf = spark.createDataFrame(sym or [(0, 0)], "doc_a long, doc_b long")
        labels0 = spark.createDataFrame([(i,) for i in range(n)], "doc_id long") \
            .withColumn("cluster_id", F.col("doc_id"))
        got = {r["doc_id"]: r["cluster_id"]
               for r in DD.min_label_components(labels0, edf).collect()}
        assert got == expected, f"trial {trial} mismatch"


def test_resize_media_plumbing(spark):
    d = docs_df(spark, ["x" * 1000, "short"])
    media = MM.docs_as_media(d)
    out = {r["media_id"]: r for r in MM.resize_media(media, max_px=64).collect()}
    for r in out.values():
        assert 0 <= r["out_width"] <= 64 and 0 <= r["out_height"] <= 64
        assert len(bytes(r["thumb"])) <= 1000
    # deterministic: same payload -> same thumb
    again = {r["media_id"]: bytes(r["thumb"])
             for r in MM.resize_media(media, max_px=64).collect()}
    assert {k: bytes(v["thumb"]) for k, v in out.items()} == again


def test_frame_sample_cardinality(spark):
    d = docs_df(spark, ["A" * 2100, "B" * 100])
    media = MM.docs_as_media(d)
    rows = MM.frame_sample(media, frame_size=256, every_n=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["media_id"], []).append(r)
    # doc0: 2100 bytes -> 9 frames -> sampled idx 0,4,8
    assert sorted(r["frame_idx"] for r in by_doc[0]) == [0, 4, 8]
    assert sum(r["frame_bytes"] for r in by_doc[0]) == 256 + 256 + 2100 - 8 * 256
    # doc1: 100 bytes -> 1 frame -> idx 0 only
    assert [r["frame_idx"] for r in by_doc[1]] == [0]
    assert bytes(by_doc[1][0]["frame"]) == b"B" * 100


def test_source_overlap_counts_cross_source_cluster_pairs(spark):
    # identical text in src A(×2) and B(×1) -> one cluster spanning
    # both sources: 2×1 cross pairs; singleton in C contributes none.
    t = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, t, "en", "A", len(t)),
            (1, t, "en", "A", len(t)),
            (2, t, "en", "B", len(t)),
            (3, "completely different content about planning", "en",
             "C", 44)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    out = DD.source_overlap(d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("A", "B")
    assert r["n_clusters"] == 1 and r["n_doc_pairs"] == 2


def test_source_quality_report_counts_per_feed(spark):
    # feed A: 2 identical good docs (1 kept + 1 exact_dup);
    # feed B: 1 distinct good doc; feed C: 1 short junk doc (quality).
    good1 = ("the cat sat on the mat with a dog and a bird today "
             "while the sun was up and the wind was low all day")
    good2 = ("a completely different and reasonably long document "
             "about the way a planner chooses a join order today")
    rows = [(0, good1, "en", "A", len(good1)),
            (1, good1, "en", "A", len(good1)),
            (2, good2, "en", "B", len(good2)),
            (3, "word", "en", "C", 4)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    out = {r["source"]: r for r in
           DD.source_quality_report(d).collect()}
    assert out["A"]["n_docs"] == 2 and out["A"]["n_exact_dup"] == 1
    assert out["A"]["n_kept"] == 1 and out["A"]["kept_pct"] == 0.5
    assert out["B"]["n_kept"] == 1 and out["B"]["kept_pct"] == 1.0
    assert out["C"]["n_quality"] == 1 and out["C"]["n_kept"] == 0


def test_hybrid_near_dup_requires_both_signals(spark):
    # docs 0/1 identical text; embeddings: 0~1 aligned (cos 1), 2 is
    # text-distinct. Only the (0,1) text candidate survives, carrying
    # its exact cosine; threshold above 1.0 kills it.
    t = "the quick brown fox jumps over the lazy dog again and again"
    d = docs_df(spark, [t, t, "totally different words entirely here"])
    e = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        schema=schemas.EMBEDDINGS)
    rows = SIM.hybrid_near_dup(d, e).collect()
    assert [(r["doc_a"], r["doc_b"], r["cos_sim"]) for r in rows] \
        == [(0, 1, 1.0)]
    assert rows[0]["n_bands"] == DD.MINHASH_SEEDS // DD.LSH_BAND_ROWS
    assert SIM.hybrid_near_dup(d, e, threshold=1.1).count() == 0


def test_kcore_keeps_clique_peels_fringe(spark):
    # 4 identical docs form a 4-clique (degree 3 each) -> survive
    # k=3 peeling; a lone distinct doc has no edges -> peeled.
    t = "the quick brown fox jumps over the lazy dog again and again"
    d = docs_df(spark, [t, t, t, t, "totally different words here ok"])
    out = {r["doc_id"]: r["degree"] for r in DD.kcore(d).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(v == 3 for v in out.values())
    # raising k above the clique degree empties the core
    assert DD.kcore(d, k=4).count() == 0


def test_kcore_converged_on_harness_data(spark, sf_dir):
    # kcore peels a FIXED number of rounds (so the unrolled-CTE
    # oracle runs the identical computation); this guards against
    # silent non-convergence: one more round must not change the
    # survivor set on the harness data. If it ever does, either the
    # data changed character or KCORE_ROUNDS needs a bump — both
    # deserve a loud failure rather than a definition drift the
    # oracle can't see.
    from etl_portfolio_tracker_spark.io import read_table
    docs = read_table(spark, sf_dir, "documents")
    at_r = sorted((r["doc_id"], r["degree"])
                  for r in DD.kcore(docs).collect())
    at_r1 = sorted((r["doc_id"], r["degree"])
                   for r in DD.kcore(docs, rounds=DD.KCORE_ROUNDS + 1)
                   .collect())
    assert at_r == at_r1, "kcore not converged at KCORE_ROUNDS"


def test_dup_inflation_counts_duplicate_tokens(spark):
    # feed A: the same 12-token doc twice -> kept once, inflation 2;
    # feed B: one distinct kept doc -> inflation 1.
    good1 = ("the cat sat on the mat with a dog and a bird today "
             "while the sun was up and the wind was low all day")
    good2 = ("a completely different and reasonably long document "
             "about the way a planner chooses a join order today")
    rows = [(0, good1, "en", "A", len(good1)),
            (1, good1, "en", "A", len(good1)),
            (2, good2, "en", "B", len(good2))]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    out = {r["source"]: r for r in DD.dup_inflation(d).collect()}
    assert out["A"]["tokens_total"] == 2 * out["A"]["tokens_kept"]
    assert out["A"]["inflation"] == 2.0
    assert out["B"]["inflation"] == 1.0
    assert all(r["tokens_kept"] <= r["tokens_total"]
               for r in out.values())


def _wav_bytes(rate, samples16, n_ch=1):
    import struct as st
    data = b"".join(st.pack("<h", s) for s in samples16)
    fmt = st.pack("<HHIIHH", 1, n_ch, rate, rate * 2 * n_ch,
                  2 * n_ch, 16)
    return (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(data)) + data)


def test_audio_meta_header_oracle_properties(spark):
    # Property check vs an independent header parse (VERDICT r2 #5:
    # rows-only must never mean unchecked): for a grid of constructed
    # RIFF payloads the decoded sample_rate/channels/bits must equal
    # the values written into the header, n_samples must equal
    # len(data)/(2*n_ch), duration_ms must equal 1000*n/rate, and the
    # signal stats must satisfy 0 <= rms <= peak <= 1.
    import math
    import struct as st
    grid = []
    mid = 0
    for rate in (8000, 16000, 44100):
        for n_ch in (1, 2):
            for n in (1, 7, 64):
                samples = [((1000 * (mid + i + 1)) % 65536) - 32768
                           for i in range(n * n_ch)]
                grid.append((mid, _wav_bytes(rate, samples, n_ch)))
                mid += 1
    rows = [(m, bytearray(b), "audio/wav", None, None)
            for m, b in grid]
    out = (MM.audio_meta(spark.createDataFrame(rows, MM.MEDIA_SCHEMA))
           .toPandas().set_index("media_id"))
    for m, b in grid:
        # header oracle: parse fields straight off the byte layout
        tag, n_ch, rate, _, _, bits = st.unpack_from("<HHIIHH", b, 20)
        data_len = st.unpack_from("<I", b, 40 + 0)[0] \
            if b[36:40] == b"data" else None
        assert data_len is not None, "constructed layout drifted"
        r = out.loc[m]
        assert r["sample_rate"] == rate
        assert r["n_channels"] == n_ch
        assert r["bits_per_sample"] == bits == 16
        assert r["n_samples"] == data_len // (2 * n_ch)
        assert math.isclose(r["duration_ms"],
                            1000.0 * r["n_samples"] / rate)
        assert 0.0 <= r["rms"] <= r["peak"] <= 1.0


def test_audio_meta_harness_fallback_invariants(spark, sf_dir):
    # The registered query decodes harness doc blobs through the
    # deterministic fallback (bytes as 8-bit samples @ 8 kHz); every
    # row must satisfy the header-derived invariants.
    from etl_portfolio_tracker_spark.io import read_table
    docs = read_table(spark, sf_dir, "documents").limit(50)
    media = MM.docs_as_media(docs)
    lens = {r["media_id"]: r["n"] for r in
            media.selectExpr("media_id", "length(media) as n").collect()}
    rows = MM.audio_meta(media).collect()
    assert len(rows) == len(lens)
    for r in rows:
        assert r["sample_rate"] == 8000
        assert r["n_samples"] == lens[r["media_id"]]
        assert abs(r["duration_ms"]
                   - 1000.0 * r["n_samples"] / 8000.0) < 1e-9
        assert 0.0 <= r["rms"] <= r["peak"] <= 1.0


def test_delta_dedup_flags_corpus_collisions(spark):
    # delta = doc_id % 10 == 9. doc 9 duplicates corpus doc 1 -> match
    # with first_match 1; doc 19 is unique -> is_new.
    t = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, t, "en", "src", len(t)),
            (2, "some other corpus document entirely", "en", "src", 35),
            (9, t, "en", "src", len(t)),
            (19, "nothing like anything else present", "en", "src", 34)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    out = {r["doc_id"]: r for r in DD.delta_dedup(d).collect()}
    assert set(out) == {9, 19}          # one row per DELTA doc only
    assert out[9]["is_new"] is False
    assert out[9]["first_match"] == 1
    assert out[9]["n_matches"] >= 1
    assert out[19]["is_new"] is True
    assert out[19]["n_matches"] == 0 and out[19]["first_match"] is None


def test_delta_dedup_corpus_bucket_cap(spark):
    # 6 identical corpus docs exceed a cap of 5 -> the boilerplate
    # bucket is dropped from the index and the colliding delta doc
    # reports is_new (bounded fan-out at scale).
    t = "repeated boilerplate text shared by every mirror of the page"
    rows = [(i, t, "en", "src", len(t)) for i in (1, 2, 3, 4, 5, 6)]
    rows.append((9, t, "en", "src", len(t)))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    capped = {r["doc_id"]: r for r in
              DD.delta_dedup(d, bucket_cap=5).collect()}
    assert capped[9]["is_new"] is True
    uncapped = {r["doc_id"]: r for r in DD.delta_dedup(d).collect()}
    assert uncapped[9]["n_matches"] == 6


def test_common_substring_pairs_finds_verbatim_run(spark):
    # docs 0/1: different prefixes/suffixes around the SAME 18-token
    # quote -> reported with max_run_tokens >= 18 even though overall
    # Jaccard overlap is low; doc 2 shares nothing long -> absent.
    quote = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo")
    d = docs_df(spark, [
        "unique opening words here " + quote + " and a closing remark",
        "totally different start text " + quote + " then other endings",
        "no long shared runs in this document at all whatsoever today "
        "just filler words repeated filler words and more filler here"])
    rows = {(r["doc_a"], r["doc_b"]): r
            for r in DD.common_substring_pairs(d).collect()}
    assert set(rows) == {(0, 1)}
    assert rows[(0, 1)]["max_run_tokens"] >= 18


def test_common_substring_pairs_threshold_and_identity(spark):
    # identical docs share their full length; short overlap below
    # min_run is suppressed
    t = ("one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    d = docs_df(spark, [t, t])
    r = DD.common_substring_pairs(d).collect()
    assert len(r) == 1
    assert r[0]["max_run_tokens"] == 18
    short = docs_df(spark, ["a b c d e f g h i j unrelated tail words",
                            "x y z a b c d e f g h other words here"])
    assert DD.common_substring_pairs(short).count() == 0


def test_quality_quantile_cut_per_source_exact(spark):
    # source A: 4 docs, keep_pct 50 -> ceil(4*50/100)=2 kept (the two
    # highest-quality); source B: 1 doc -> ceil(0.5)=1 kept. Compare
    # against the naive single-window form for rank equality.
    rows = [(0, "the and of to a", "en", "A", 15),        # all stop
            (1, "zz", "en", "A", 2),
            (2, "the cat", "en", "A", 7),
            (3, "xy zw qq", "en", "A", 8),
            (4, "whatever text", "en", "B", 13)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    out = {r["doc_id"]: r for r in
           TX.quality_quantile_cut(d, keep_pct=50).collect()}
    kept_a = {i for i in (0, 1, 2, 3) if out[i]["kept"]}
    assert len(kept_a) == 2
    ranked = sorted((0, 1, 2, 3),
                    key=lambda i: (-out[i]["quality"], i))
    assert kept_a == set(ranked[:2])
    assert out[4]["kept"] is True and out[4]["rnk"] == 1
    # two-pass rank equals the naive per-source window rank
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    naive = TX.quality_score(d).select("doc_id", "quality").join(
        d.select("doc_id", "source"), "doc_id").select(
        "doc_id", F.row_number().over(
            W.partitionBy("source")
             .orderBy(F.desc("quality"), F.asc("doc_id"))).alias("rnk"))
    for r in naive.collect():
        assert out[r["doc_id"]]["rnk"] == r["rnk"]


def test_bpe_train_learns_expected_merges(spark):
    from etl_portfolio_tracker_spark.operators.bpe import (
        bpe_train, bpe_segment)
    d = docs_df(spark, ["low lower lowest low low",
                        "new newer newest new"])
    merges = [(r["merge_rank"], r["left_sym"], r["right_sym"],
               r["pair_count"])
              for r in bpe_train(d).collect()]
    # 'lo' (5 occurrences) wins round 1 by (count, tie-break); then
    # 'lo'+'w' fuses the most frequent word; 'e'+'w'/'n'+'ew' build
    # toward 'new' — the classic low/new BPE walkthrough.
    assert merges == [(1, "l", "o", 5), (2, "lo", "w", 5),
                      (3, "e", "w", 4), (4, "n", "ew", 4)]
    seg = {r["segmentation"]: r["freq"] for r in bpe_segment(d).collect()}
    assert seg["low"] == 3 and seg["new"] == 2
    assert seg["low e r"] == 1 and seg["new e s t"] == 1


def test_bpe_merge_is_greedy_non_overlapping(spark):
    from etl_portfolio_tracker_spark.operators import bpe as B
    d = docs_df(spark, ["aaaa aaaa"])
    # round 1 pair count: 'aaaa' has 3 adjacent (a,a) pairs x freq 2
    m = bpe_train_rows = B.bpe_train(d, n_merges=1).collect()
    assert (m[0]["left_sym"], m[0]["right_sym"], m[0]["pair_count"]) \
        == ("a", "a", 6)
    # greedy left-to-right: aaaa -> (aa)(aa), not (aa)a a
    seg = B.bpe_segment(d, n_merges=1).collect()
    assert [(r["segmentation"], r["freq"]) for r in seg] == [("aa aa", 2)]


def test_bpe_token_counts_small_corpus(spark):
    from etl_portfolio_tracker_spark.operators import bpe as B
    # learned merges fuse 'low'/'new' into single tokens (see
    # test_bpe_train_learns_expected_merges); remaining words segment
    # into (merged-prefix + leftover chars).
    d = spark.createDataFrame(
        [(0, "low lower lowest low low", "en", "A", 24),
         (1, "new newer newest new", "en", "B", 20)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["source"]: r for r in B.bpe_token_counts(d).collect()}
    # source A: low(1)x3 + lower(low,e,r = 3) + lowest(low,e,s,t = 4)
    assert out["A"]["n_words"] == 5
    assert out["A"]["n_subword_tokens"] == 3 * 1 + 3 + 4
    # source B: new(1)x2 + newer(3) + newest(4)
    assert out["B"]["n_words"] == 4
    assert out["B"]["n_subword_tokens"] == 2 * 1 + 3 + 4
    assert out["B"]["avg_subwords"] == round(9 / 4, 6)


def test_simhash_pairs_identical_docs_zero_hamming(spark):
    t = "the quick brown fox jumps over the lazy dog again and again"
    d = docs_df(spark, [t, t, "totally different words entirely here"])
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in DD.simhash_pairs(d).collect()}
    assert rows.get((0, 1)) == 0
    assert all(h <= DD.SIMHASH_MAX_HAMMING for h in rows.values())


def test_simhash_pairs_bucket_cap(spark):
    # 6 identical docs share every band bucket; cap 5 drops the
    # boilerplate bucket entirely (bounded pair output at scale)
    d = docs_df(spark, ["same boilerplate text on every mirror"] * 6)
    assert DD.simhash_pairs(d, bucket_cap=5).count() == 0
    assert DD.simhash_pairs(d).count() == 15


def test_near_dup_edit_stats_identical_and_revision(spark):
    t = "the quick brown fox jumps over the lazy dog again and again"
    rev = t.replace("lazy", "hazy")
    d = docs_df(spark, [t, t, rev,
                        "zzzz xxxx yyyy wwww vvvv uuuu tttt ssss"])
    rows = {(r["doc_a"], r["doc_b"]): r
            for r in DD.near_dup_edit_stats(d).collect()}
    assert rows[(0, 1)]["lev_dist"] == 0
    assert rows[(0, 1)]["len_ratio"] == 1.0
    # the one-char revision survives verify and shows 1 edit
    assert rows[(0, 2)]["lev_dist"] == 1
    assert all(k[0] < k[1] and 3 not in k for k in rows)


def test_length_bucket_batches_invariants(spark, sf_dir):
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators.packing import (
        BATCH_SIZE, length_bucket_batches)
    docs = read_table(spark, sf_dir, "documents")
    rows = length_bucket_batches(docs).collect()
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert [r["batch_id"] for r in rows] == list(range(len(rows)))
    # every batch full except possibly the last; lengths descend
    assert all(r["n_docs"] == BATCH_SIZE for r in rows[:-1])
    assert all(r["padding_waste"] >= 0 for r in rows)
    maxes = [r["max_tokens"] for r in rows]
    assert maxes == sorted(maxes, reverse=True)


def test_dedup_threshold_sweep_monotone(spark):
    t = "the quick brown fox jumps over the lazy dog again and again"
    d = docs_df(spark, [t, t, t.replace("lazy", "hazy"),
                        "zzzz xxxx yyyy wwww vvvv uuuu tttt ssss"])
    rows = DD.dedup_threshold_sweep(d).collect()
    assert [r["threshold"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9, 1.0]
    pair_counts = [r["n_pairs"] for r in rows]
    assert pair_counts == sorted(pair_counts, reverse=True)
    assert rows[0]["n_pairs"] >= 3          # identical + revision pairs
    assert rows[-1]["n_pairs"] >= 1         # the identical pair at 1.0
    assert all(r["n_docs"] <= 2 * r["n_pairs"] for r in rows)


def test_dedup_threshold_sweep_rejects_uncovering_pairs(spark):
    # precomputed pairs verified ABOVE min(thresholds) would silently
    # under-count the low-threshold rows; the sweep must refuse them.
    import pytest
    t = "the quick brown fox jumps over the lazy dog again and again"
    d = docs_df(spark, [t, t])
    pairs = DD.minhash_verified(d, threshold=0.9)
    with pytest.raises(ValueError, match="cannot serve a sweep"):
        DD.dedup_threshold_sweep(d, pairs=pairs, pairs_threshold=0.9)
    # covering pairs (verified at <= min) are accepted
    ok = DD.minhash_verified(d, threshold=0.5)
    rows = DD.dedup_threshold_sweep(d, pairs=ok, pairs_threshold=0.5)
    assert rows.count() == len(DD.SWEEP_THRESHOLDS)


def test_doc_containment_detects_quote_inclusion(spark):
    quote = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa")   # 16 tokens
    d = docs_df(spark, [
        quote,                                               # contained
        "a very long wrapper document begins here " + quote
        + " and then continues with a closing statement afterwards",
        "completely unrelated filler text with nothing shared today"])
    rows = DD.doc_containment(d).collect()
    assert [(r["contained_doc"], r["container_doc"]) for r in rows] \
        == [(0, 1)]
    assert rows[0]["n_tokens_contained"] == 16
    assert rows[0]["container_tokens"] > 16
