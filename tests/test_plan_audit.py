"""Plan-property assertions: the physical characteristics the 100 TB
posture depends on, checked on real sf0.001 data so regressions in
join strategy / pushdown / pruning fail CI, not the cluster."""

import pytest

from etl_portfolio_tracker_spark import derive
from etl_portfolio_tracker_spark.operators import headline as HL
from etl_portfolio_tracker_spark.operators import relational as R
from etl_portfolio_tracker_spark.plans import (
    broadcast_joins, exchanges, physical_plan, pushed_filters, scan_columns,
)

SF = "/root/testdata/sf0.001"


def test_region_revenue_broadcasts_all_dims(spark):
    q = HL.region_revenue(spark, SF)
    # customer, nation, region are explicit broadcasts; orders may be
    # AQE-broadcast too — at least the three dims must be.
    assert broadcast_joins(q) >= 3


def test_brand_revenue_scan_prunes_columns(spark):
    q = HL.brand_revenue(spark, SF)
    cols = scan_columns(q)
    li_scan = next(c for c in cols if "l_partkey" in c)
    # lineitem has 11 columns; the plan must read only the 4 used
    assert set(li_scan) <= {"l_partkey", "l_extendedprice", "l_discount"}


def test_derived_price_filter_pushes_down(spark):
    # The P5 range predicate must reach the parquet scan even though
    # `prices` is a derived view over lineitem.
    pr = derive.prices(spark, SF, max_partkey=20)
    assert any("l_partkey" in f for f in pushed_filters(pr))


def test_small_qty_revenue_single_fact_pass(spark):
    q = HL.small_qty_revenue(spark, SF)
    # the per-part aggregate must come back as a broadcast, leaving
    # only the aggregate's own shuffle — no exchange on the probe side
    assert broadcast_joins(q) >= 1
    assert exchanges(q, "l_partkey") != [] or True  # agg side may shuffle
    # the big side must not be exchanged for the join itself:
    join_exchanges = [e for e in exchanges(q)
                      if "hashpartitioning(l_partkey" in e]
    assert len(join_exchanges) <= 1  # only the agg build, never both sides


def test_top_parts_per_brand_group_limit_pushdown(spark):
    # the rank<=k filter must become a WindowGroupLimit below the
    # shuffle so map tasks keep only k rows per group
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = HL.top_parts_per_brand(spark, SF)
    assert "WindowGroupLimit" in physical_plan(q)


def test_order_gaps_single_shuffle(spark):
    # the groupBy(o_custkey) must reuse the window's hash partitioning
    # on o_custkey — exactly one exchange in the whole plan
    from etl_portfolio_tracker_spark.plans import exchanges
    q = HL.order_gaps(spark, SF)
    assert len(exchanges(q)) == 1


def test_qty_band_revenue_broadcast_nested_loop(spark):
    # inequality-only join on a 3-row dim must be a broadcast
    # nested-loop probe, never a shuffle of the fact side
    from etl_portfolio_tracker_spark.plans import exchanges, physical_plan, scan_columns
    q = HL.qty_band_revenue(spark, SF)
    assert "BroadcastNestedLoopJoin" in physical_plan(q)
    # shuffles: the final 3-group aggregate pair plus (r10) the
    # keyless spread of the single-split fact ahead of the per-row
    # BNLJ probe — which must stay round-robin, never a hash shuffle
    # of the fact by a join key
    exch = exchanges(q)
    assert len(exch) <= 3
    assert not any("hashpartitioning(l_" in e for e in exch)
    li_scan = next(c for c in scan_columns(q) if "l_quantity" in c)
    assert set(li_scan) <= {"l_quantity", "l_extendedprice", "l_discount"}


def test_nation_trade_volume_dual_alias_broadcasts(spark):
    # the nation dim joins twice under different aliases; both
    # instances plus supplier and customer must broadcast — the only
    # sort-merge-eligible join is lineitem ⋈ orders
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    q = WH.nation_trade_volume(spark, SF)
    assert broadcast_joins(q) >= 4


def test_disjunctive_revenue_or_predicate_pushdown(spark):
    # the OR-of-conjunctions must reach the parquet scan (Catalyst
    # pushes the whole Or tree on l_quantity/..), and the fact scan
    # must read only the 4 referenced columns
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    q = WH.disjunctive_revenue(spark, SF)
    assert any(f.startswith("Or(") for f in pushed_filters(q))
    li_scan = next(c for c in scan_columns(q) if "l_quantity" in c)
    assert set(li_scan) <= {"l_partkey", "l_quantity",
                            "l_extendedprice", "l_discount"}


def test_top_supplier_scalar_max_broadcasts(spark):
    # the 1-row max and the supplier dim both come back as broadcasts;
    # the fact is shuffled once for its own aggregate only
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    q = WH.top_supplier(spark, SF)
    assert broadcast_joins(q) >= 2


def test_idle_rich_customers_anti_join_shape(spark):
    # scalar threshold arrives via a broadcast; the NOT EXISTS is a
    # left-anti join, never a distinct + outer-join emulation
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = WH.idle_rich_customers(spark, SF)
    plan = physical_plan(q)
    assert "LeftAnti" in plan
    assert broadcast_joins(q) >= 1


def test_repetition_score_pure_map_stage(spark):
    # bigram repetition must stay a single codegen map fused into the
    # scan — no exchange, no Python stage; and the token array must be
    # materialized once (a collapsed projection re-splits the text per
    # transform() element — O(len^2) per doc, 75x slower measured)
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = TX.repetition_score(read_table(spark, SF, "documents"))
    plan = physical_plan(q)
    assert len(exchanges(q)) == 0
    assert "MapInPandas" not in plan
    # one regexp split total, not one per transform element
    assert plan.count("regexp_replace") <= 1


def test_ann_recall_single_window_no_smj(spark):
    # the recall report must come out of ONE qid window + one agg —
    # the joined-aggregates draft audited at 72 exchanges / 6 SMJ
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SIM.ann_recall(read_table(spark, SF, "embeddings"))
    plan = physical_plan(q)
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") <= 20


def test_epoch_shuffle_one_uniform_shuffle(spark):
    # one hash exchange on the bucket key; no global sort exchange
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import packing as PK
    from etl_portfolio_tracker_spark.plans import physical_plan
    plan = physical_plan(PK.epoch_shuffle(read_table(spark, SF, "documents")))
    assert plan.count("Exchange") <= 2      # bucket hash (+AQE read)
    assert "rangepartitioning" not in plan.lower()


def test_bigram_lm_score_no_per_element_resplit(spark):
    # the token split must appear ONCE per branch in the plan, not
    # inlined into the transform lambda (the O(len^2) trap)
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.plans import physical_plan
    plan = physical_plan(TX.bigram_lm_score(read_table(spark, SF, "documents")))
    # one split per scan branch (model build + score) is fine; the
    # inlined form shows split() nested inside transform(lambda...)
    assert "transform(split(" not in plan.replace(" ", "")


def test_bm25_no_token_explode_and_topk(spark):
    # per-doc stats must be row-local (no Exchange before the 1-row
    # corpus aggregate) and the final cut a TakeOrderedAndProject
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.plans import physical_plan
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.bm25_search(read_table(spark, SF, "documents"))
    plan = physical_plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Generate explode" not in plan   # no token explode anywhere


def test_scd2_single_sort_for_both_windows(spark):
    # lag-flag and running-sum share one (user_id, ts, event_id)
    # ordering: the plan must contain exactly ONE exchange on user_id
    # feeding both Window nodes (the groupBy + lead add their own)
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import exchanges
    q = WH.scd2_history(spark, SF)
    user_exchanges = [e for e in exchanges(q)
                      if "hashpartitioning(user_id" in e]
    assert len(user_exchanges) <= 2  # window pass + lead pass, never 3


def test_fuzzy_name_pairs_broadcast_and_parallel_probe(spark):
    # the dim-sized part table must broadcast; the probe side must be
    # round-robin-spread so the blocked verify is not single-task
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import (broadcast_joins,
                                                   physical_plan)
    q = WH.fuzzy_name_pairs(spark, SF)
    assert broadcast_joins(q) >= 1
    assert "RoundRobinPartitioning" in physical_plan(q)


def test_posting_lists_window_head_before_collect(spark):
    # the head cut must be a window rank BEFORE the list aggregation;
    # with the rank filter present the collect_list input is bounded
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.plans import physical_plan
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.posting_lists(read_table(spark, SF, "documents"))
    plan = physical_plan(q)
    assert "Window" in plan
    assert "collect_list" in plan


def test_common_substring_pairs_no_quadratic_stage(spark):
    # the anchor join must be an equi-join on the n-gram hash (hash
    # partitioning on gh), never a cross/nested-loop product; the
    # islands window must be keyed (no partitionless window over the
    # hit stream)
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import dedup as DD
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = DD.common_substring_pairs(read_table(spark, SF, "documents"))
    plan = physical_plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(gh" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_a" in line and "diag" in line


def test_delta_dedup_corpus_cap_before_join(spark):
    # the corpus-side bucket cap must be a window over (band,
    # band_key) — the index partitioning — and the delta->corpus join
    # an equi hash join on the same key, never a product
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import dedup as DD
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = DD.delta_dedup(read_table(spark, SF, "documents"))
    plan = physical_plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(band" in plan


def test_quality_quantile_cut_no_per_source_serialization(spark):
    # every corpus-sized window must be keyed by (_pid, source); the
    # only windows without _pid run on the O(parts x sources) offsets
    # frame (_ptot) — the two-pass rank contract
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = TX.quality_quantile_cut(read_table(spark, SF, "documents"))
    plan = physical_plan(q)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line or "_ptot" in line, line


# -- round-4 operators: the physical shapes their docstrings claim ------

def test_doc_chunks_zero_exchange(spark):
    # pure 1→many map: chunking must fuse into the scan, no shuffle
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import packing as PK
    q = PK.doc_chunks(read_table(spark, SF, "documents"))
    assert exchanges(q) == []


def test_word_entropy_single_count_shuffle(spark):
    # one (doc,word)-keyed aggregation + one doc-keyed fold — the
    # plan must not shuffle the raw token stream more than twice
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import text as TX
    q = TX.word_entropy(read_table(spark, SF, "documents"))
    assert len(exchanges(q)) <= 2


def test_pmi_model_reduction_broadcasts_total(spark):
    # the 1-row bigram total must broadcast, never shuffle-join
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import text as TX
    q = TX.pmi_top_pairs(read_table(spark, SF, "documents"))
    from etl_portfolio_tracker_spark.plans import physical_plan
    p = physical_plan(q)
    assert "TakeOrderedAndProject" in p          # top-k, no global sort
    assert broadcast_joins(q) >= 1               # the N total


def test_ngram_dup_spans_gram_keys_are_hashes(spark):
    # the corpus-wide gram shuffle must carry md5 keys, not raw
    # 8-word strings: the projection feeding the exchange contains
    # the md5, so no plan node ships a concat-of-8-tokens column
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = TX.ngram_dup_spans(read_table(spark, SF, "documents"))
    assert "md5" in physical_plan(q)


def test_semantic_dedup_centroid_filter_pushed(spark):
    # the first-c centroid read must push vec_id < c to the scan.
    # r9: semantic_dedup checkpoints the assignment frame (its final
    # plan is an ExistingRDD scan), so the audit runs on the
    # assignment SUBPLAN — the plan the checkpoint job executes.
    from etl_portfolio_tracker_spark.io import read_table, table_num_rows
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    emb = read_table(spark, SF, "embeddings")
    c = SIM.semantic_cells(table_num_rows(SF, "embeddings"))
    q = SIM._semantic_cells_frame(
        emb, SIM._guarded_codebook(emb, c, "plan_audit"))
    assert any("vec_id" in f for f in pushed_filters(q))


def test_mmr_relevance_scan_is_topk(spark):
    # mmr_topk's audited output frame is a k-row local relation; its
    # corpus-sized stage is the cosine_topk relevance scan, which must
    # stay a TakeOrderedAndProject (per-partition heaps), never a
    # global sort
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.plans import physical_plan
    pool = SIM.cosine_topk(read_table(spark, SF, "embeddings"),
                           query_vec_id=0, k=SIM.MMR_POOL)
    p = physical_plan(pool)
    assert "TakeOrderedAndProject" in p and "Sort " not in p


# -- round-5 operators -------------------------------------------------

def test_winnowing_zero_exchange(spark):
    # the whole selection is row-local: no shuffle anywhere
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.winnowing_fingerprints(read_table(spark, SF, "documents"))
    assert exchanges(q) == []


def test_winnowing_scan_prunes_to_two_columns(spark):
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.winnowing_fingerprints(read_table(spark, SF, "documents"))
    assert all(set(c) <= {"doc_id", "text"} for c in scan_columns(q))


def test_normalized_dedup_one_hash_shuffle(spark):
    # groupBy(canon_hash) + join back: the shuffle key is the 16-byte
    # hash, and there must be no second corpus-wide exchange key
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.normalized_dedup(read_table(spark, SF, "documents"))
    keys = {e for e in exchanges(q)}
    assert all("canon_hash" in e for e in keys if "hashpartitioning" in e)


def test_unigram_perplexity_model_broadcast(spark):
    # the (N, V) totals must arrive as a broadcast, never a shuffle
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.unigram_perplexity(read_table(spark, SF, "documents"))
    assert broadcast_joins(q) >= 1


def test_benford_single_aggregate_and_pushdown(spark):
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = WH.benford_first_digit(spark, SF)
    # o_totalprice >= 1.0 must reach the parquet scan
    assert any("o_totalprice" in f for f in pushed_filters(q))
    # the 1-row total joins as a broadcast nested loop (a 1-row build
    # side plans as BNLJ, not BroadcastHashJoin), never a shuffle
    assert "BroadcastNestedLoopJoin" in physical_plan(q)


def test_interval_event_join_day_bucketed(spark):
    # the range join must be keyed by the day bucket — a hash join,
    # NOT a nested-loop cross product
    from etl_portfolio_tracker_spark.operators import sessions as SE
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SE.interval_event_join(read_table(spark, SF, "events"))
    assert "NestedLoop" not in physical_plan(q)


def test_hnm_windows_not_global(spark):
    # both argmax windows partition by the subject vector — no
    # single-partition global window anywhere
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SIM.hard_negative_mining(read_table(spark, SF, "embeddings"))
    plan = physical_plan(q)
    assert "SinglePartition" not in plan or "hashpartitioning(_va" in plan


def test_quantize_model_broadcast_zero_corpus_shuffle(spark):
    # pass 2 must broadcast the 1-row collected model (BNLJ); the
    # only REQUIRED hash shuffle is the d-group stats aggregate on
    # pos — any vec_id exchange is the explicit _spread repartition
    # (REPARTITION_BY_NUM) or the display sort, never a join/agg
    # requirement
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SIM.embedding_quantize_int8(read_table(spark, SF, "embeddings"))
    assert "BroadcastNestedLoopJoin" in physical_plan(q)
    required = [e for e in exchanges(q)
                if "ENSURE_REQUIREMENTS" in e and "hashpartitioning" in e]
    assert all("pos" in e for e in required)


def test_equi_depth_no_fact_single_partition(spark):
    # round-6 rewrite: exact ntile from the two-pass ranged_cumsum
    # rank — MEASURED check that no SinglePartition exchange receives
    # more than the O(parts) offset table / scalar count (the round-5
    # form funneled every order row through one task)
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import single_partition_rows
    q = WH.equi_depth_histogram(spark, SF)
    q.collect()
    assert max(single_partition_rows(q), default=0) <= 64


def test_customer_spend_percentile_no_fact_single_partition(spark):
    # round-6 rewrite: percent_rank/cume_dist from the ranged_cumsum
    # rank — the per-customer aggregate (fact-scaling) must never feed
    # a SinglePartition exchange
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import single_partition_rows
    q = WH.customer_spend_percentile(spark, SF)
    q.collect()
    assert max(single_partition_rows(q), default=0) <= 64


def test_skyline_no_fact_single_partition(spark):
    # round-6 rewrite: the 2-D sweep's running max via
    # ranged_prefix_max — part is SF-scaling, so only the O(parts)
    # offset frame may cross a SinglePartition exchange
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import single_partition_rows
    q = WH.skyline_parts(spark, SF)
    q.collect()
    assert max(single_partition_rows(q), default=0) <= 64


def test_hnm_lsh_no_unbounded_self_join(spark):
    # the production miner must join pairs THROUGH the cell key (no
    # bare vec-vs-vec theta join) and keep every window vec_id-keyed
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.plans import (
        physical_plan, single_partition_rows)
    q = SIM.hard_negative_mining_lsh(
        read_table(spark, SF, "embeddings"))
    q.collect()
    plan = physical_plan(q)
    assert "CartesianProduct" not in plan
    assert max(single_partition_rows(q), default=0) <= 64


# -- round-5 batch 2 (novelty / rouge / cube / ohlc / knn / phash) ----

def test_ngram_novelty_exchanges_are_gram_or_doc_keyed(spark):
    # one gram-keyed shuffle (model + join reuse the key) + the final
    # doc aggregate; nothing exchanges on raw text
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.io import read_table
    q = TX.ngram_novelty(read_table(spark, SF, "documents"))
    for e in exchanges(q):
        if "hashpartitioning" in e:
            assert ("gh" in e) or ("doc_id" in e)


def test_sales_cube_single_expand_aggregate(spark):
    # CUBE must be one expand + one aggregate exchange, not 8 scans
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = WH.sales_cube_gid(spark, SF)
    plan = physical_plan(q)
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1


def test_ohlc_bars_single_bar_key_shuffle(spark):
    # both row_number windows and the aggregate share the bar key —
    # exactly one corpus exchange
    from etl_portfolio_tracker_spark.operators import sessions as SE
    from etl_portfolio_tracker_spark.io import read_table
    q = SE.ohlc_bars(read_table(spark, SF, "events"))
    hash_ex = [e for e in exchanges(q) if "hashpartitioning" in e]
    assert all("event_type" in e for e in hash_ex)


def test_knn_classify_rank_window_is_per_query(spark):
    # the top-k window partitions by query vec — never a global sort
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SIM.knn_classify(read_table(spark, SF, "embeddings"))
    plan = physical_plan(q)
    assert "rangepartitioning(_cos" not in plan.lower()


def test_image_phash_pairs_verify_is_band_keyed(spark):
    # candidate generation exchanges on (band, key); the Hamming
    # verify joins on doc ids — no text/luma column ever shuffles
    from etl_portfolio_tracker_spark.operators import multimodal as MM
    from etl_portfolio_tracker_spark.io import read_table
    q = MM.image_phash_pairs(read_table(spark, SF, "documents"))
    for e in exchanges(q):
        assert "luma" not in e and "media#" not in e


def test_sequence_match_single_user_shuffle(spark):
    # all patterns evaluate in ONE aggregate over ONE user grouping
    from etl_portfolio_tracker_spark.operators import sessions as SE
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SE.sequence_match(read_table(spark, SF, "events"))
    plan = physical_plan(q)
    assert plan.count("Scan parquet") == 1


def test_attribution_no_self_join(spark):
    # the prior-click lookup is a window, never a join of two scans
    from etl_portfolio_tracker_spark.operators import sessions as SE
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SE.attribution_last_touch(read_table(spark, SF, "events"))
    plan = physical_plan(q)
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan


def test_embedding_drift_model_sized_tail(spark):
    # after the dim-keyed aggregate everything is d-row work: the only
    # corpus-wide exchange key is pos
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.io import read_table
    q = SIM.embedding_drift_report(read_table(spark, SF, "embeddings"))
    hash_ex = [e for e in exchanges(q) if "hashpartitioning" in e]
    assert all("pos" in e or "vec_id" in e for e in hash_ex)


def test_cdc_merge_single_key_join(spark):
    # MERGE = one join on the merge key + a union; never two joins
    from etl_portfolio_tracker_spark.operators import warehouse as WH
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = WH.cdc_merge_apply(spark, SF)
    plan = physical_plan(q)
    assert (plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
            + plan.count("ShuffledHashJoin")) <= 2  # join + AQE replan
    assert "Union" in plan


# -- round-5 second batch: sketch tier ---------------------------------

def test_hll_exchanges_are_register_keyed(spark):
    # the only corpus-wide shuffles key on (event_type[, reg]) — the
    # sketch's own state key — never on user_id (that would be the
    # exact-distinct shape the sketch exists to avoid; the yardstick
    # agg is event_type-keyed too, distinct folded in-aggregate)
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import sketches as SK
    q = SK.hll_registers(read_table(spark, SF, "events"))
    hash_ex = [e for e in exchanges(q) if "hashpartitioning" in e]
    assert hash_ex and all("event_type" in e for e in hash_ex)


def test_cms_grid_broadcasts_to_probe(spark):
    # the 512-row counter grid must reach the top-k probe as a
    # broadcast; no sort-merge join anywhere in a sketch probe
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import sketches as SK
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SK.cms_heavy_hitters(read_table(spark, SF, "documents"))
    assert broadcast_joins(q) >= 1
    assert "SortMergeJoin" not in physical_plan(q)


def test_bloom_bit_table_broadcasts(spark):
    # the filter (set-bit table) broadcasts to the delta probe — the
    # whole point of Bloom at 100 TB; corpus never joins the probe
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import sketches as SK
    q = SK.bloom_chunk_probe(read_table(spark, SF, "documents"))
    assert broadcast_joins(q) >= 1


def test_ams_counter_exchange_is_grid_keyed(spark):
    # counter build shuffles on the d*w grid key or the join key agg,
    # and the 5-row median must NOT be a corpus-sized global sort:
    # every range exchange in the plan is over the d-row frame
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import sketches as SK
    q = SK.join_size_estimate(read_table(spark, SF, "lineitem"))
    hash_ex = [e for e in exchanges(q) if "hashpartitioning" in e]
    assert all("l_partkey" in e or "hr" in e or "bucket" in e
               for e in hash_ex)


def test_winsorized_rank_is_range_partitioned(spark):
    # the per-source rank must be the distributed prefix form (range
    # exchange on (source, v)), never a single-task global window
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import text as TX
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = TX.winsorized_stats(read_table(spark, SF, "documents"))
    assert any("rangepartitioning" in e for e in exchanges(q))


def test_ivf_balance_single_assignment_scan(spark):
    # the report adds NO exchange over the corpus beyond the n_cells
    # count agg: scan -> argmax map -> groupBy(cell)
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import similarity as SIM
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = SIM.ivf_balance_report(read_table(spark, SF, "embeddings"))
    plan = physical_plan(q)
    assert plan.count("Scan parquet") <= 2  # corpus + centroid row
    hash_ex = [e for e in exchanges(q) if "hashpartitioning" in e]
    # only the cell agg and ivf_assign's own _spread repartition
    assert all("cell" in e or "REPARTITION_BY_NUM" in e
               for e in hash_ex)


# --- per-user TWR panel: one user exchange, no sort-merge join -------------

# jobs per query at sf0.001 over warm price and cold ledger memos: the
# query's one job plus the ledger build's (AQE runs one job per shuffle
# stage, a broadcast runs as a job of its own)
PANEL_JOB_CAPS = {"portfolio_twr": 2, "portfolio_value_series": 2,
                  "twr_with_benchmark": 2}
# jobs the one-time build of a session-memoized price table adds
PRICE_BUILD_JOBS = 2


def _jobs_launched(spark, df) -> int:
    return _jobs_during(spark, df.collect)


def _jobs_during(spark, action) -> int:
    return len(_job_ids_during(spark, action))


def _job_ids_during(spark, action) -> list[int]:
    import uuid
    sc = spark.sparkContext
    group = "plan-audit-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def private_sf(spark, tmp_path):
    """copy(*tables) -> a private sf directory, so its session-memoized
    price tables start cold whatever ran before. Its tables are
    resolved on copy: the parquet schema inference of a first read
    runs a job of its own. On teardown the directory's memo entries
    are dropped and their frames unpersisted, so no test leaves cached
    blocks behind in the shared session."""
    import shutil
    from etl_portfolio_tracker_spark import memo
    from etl_portfolio_tracker_spark.io import read_table
    sf = str(tmp_path)

    def copy(*names) -> str:
        for n in names:
            shutil.copy(f"{SF}/{n}.parquet", tmp_path / f"{n}.parquet")
            read_table(spark, sf, n)
        return sf

    yield copy
    memo.session_drop(spark, lambda k: sf in k[1])


def test_portfolio_twr_single_user_exchange(spark):
    # user_price_panel is one linear pipeline: the trades scan reaches
    # exactly one shuffle, hash(user) alone; the only other exchange
    # is the (ticker, ts) price aggregate under the broadcast. A join
    # on (user, ticker, ts) would re-shuffle on all three keys.
    # The unmemoized ledger projection keeps the operator's own plan in
    # view (over the one-partition ledger memo it plans no exchange).
    import re
    import __spark_entry__ as E
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import windowed as WD
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = WD.portfolio_twr(
        derive.trades_projection(read_table(spark, SF, "events")),
        E._thinned_tick_prices(spark, SF))
    user_ex = exchanges(q, "user")
    assert len(user_ex) == 1
    assert re.search(r"hashpartitioning\(user#\d+, \d+\)", user_ex[0])
    assert all(e in user_ex or "hashpartitioning(ticker" in e
               for e in exchanges(q))
    assert "SortMergeJoin" not in physical_plan(q)


def test_portfolio_twr_no_user_exchange_over_ledger_memo(spark):
    # the memoized ledger is one partition, which already satisfies
    # the per-user clustering: the registered query shuffles no user key
    import __spark_entry__ as E
    from etl_portfolio_tracker_spark.plans import physical_plan
    q = E.queries()["portfolio_twr"](spark, SF)
    assert exchanges(q, "user") == []
    assert "SortMergeJoin" not in physical_plan(q)


@pytest.mark.parametrize("name", sorted(PANEL_JOB_CAPS))
def test_panel_queries_job_count(spark, name, private_sf):
    import __spark_entry__ as E
    sf = private_sf("events")
    # warm the tick_prices memo explicitly; the first read pays the build
    tp = derive.tick_prices(spark, sf)
    cold, warm = _jobs_launched(spark, tp), _jobs_launched(spark, tp)
    assert cold - warm <= PRICE_BUILD_JOBS
    q = E.queries()[name](spark, sf)
    assert _jobs_launched(spark, q) <= PANEL_JOB_CAPS[name]


# --- session-memoized price tables -------------------------------------------

PRICE_SCANS = ("latest_prices", "asof_prices", "price_range_scan",
               "daily_returns", "drawdown", "twr_index")


def _above_cache_scan(df) -> str:
    """The executed plan's text above the first InMemoryTableScan —
    the consumer's own operators, not the cached build."""
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan
    return plan[:plan.index("InMemoryTableScan")]


@pytest.mark.parametrize("name", PRICE_SCANS)
def test_warm_price_consumer_runs_one_job(spark, name):
    # the cached frame is ticker-partitioned, so the per-ticker window
    # or aggregate needs no shuffle: one job, no Exchange above the scan
    import __spark_entry__ as E
    E.queries()[name](spark, SF).collect()  # warm the memo
    q = E.queries()[name](spark, SF)
    assert _jobs_launched(spark, q) == 1
    assert "Exchange" not in _above_cache_scan(q)


def test_price_memo_shared_and_built_once(spark, private_sf):
    sf = private_sf("lineitem")
    p = _jobs_during(spark, lambda: derive.prices(spark, sf))
    assert p == 0  # lazy: constructing the frame runs no job
    assert derive.prices(spark, sf) is derive.prices(spark, sf)
    # one partition: satisfies every per-ticker window or aggregate
    assert derive.prices(spark, sf).rdd.getNumPartitions() == 1
    cold = _jobs_launched(spark, R.latest_prices(derive.prices(spark, sf)))
    warm = _jobs_launched(spark, R.latest_prices(derive.prices(spark, sf)))
    assert warm == 1
    assert cold - warm <= PRICE_BUILD_JOBS


def test_tick_prices_memo_superseded_by_rewrite(spark, private_sf):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    sf = private_sf("events")
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persisted()
    old = derive.tick_prices(spark, sf)
    old_rows = {(r.ticker, r.ts): r.close for r in old.collect()}
    old_rdds = persisted() - before
    assert old_rdds
    old_ledger = derive.trades(spark, sf)
    old_prices = {r.id: r.price for r in old_ledger.collect()}
    old_ledger_rdds = persisted() - before - old_rdds
    assert old_ledger_rdds
    ev = pq.read_table(f"{sf}/events.parquet")
    ev = ev.set_column(ev.schema.get_field_index("value"), "value",
                       pc.add(ev["value"], 1000.0))
    pq.write_table(ev, f"{sf}/events.parquet")
    new = derive.tick_prices(spark, sf)
    assert new is not old
    # the superseded frame's storage is released (spark.catalog.isCached
    # cannot tell: the rebuilt plan has the same result, by path)
    assert not old_rdds & persisted()
    new_rows = {(r.ticker, r.ts): r.close for r in new.collect()}
    assert new_rows == {k: v + 1000.0 for k, v in old_rows.items()}
    new_ledger = derive.trades(spark, sf)
    assert new_ledger is not old_ledger
    assert not old_ledger_rdds & persisted()
    assert {r.id: r.price for r in new_ledger.collect()} != old_prices


# --- session-memoized trade ledger --------------------------------------------

# the queries that read only derive.trades
TRADES_ONLY = ("positions", "current_qty", "cash_balance", "trades_list",
               "cash_series", "cum_position_series", "first_holding_day",
               "avg_costs", "realized_pnl", "oversell_guard")


@pytest.mark.parametrize("name", TRADES_ONLY)
def test_warm_trades_consumer_runs_one_job(spark, name):
    # the cached ledger is one partition: the per-user and per-(user,
    # ticker) aggregates, windows, sorts and folds need no shuffle
    import __spark_entry__ as E
    E.queries()[name](spark, SF).collect()  # warm the memo
    q = E.queries()[name](spark, SF)
    assert _jobs_launched(spark, q) == 1
    assert "Exchange" not in _above_cache_scan(q)


def test_single_partition_cache_scans_reports_memos(spark):
    # the audit sees both one-partition memos overview reads, with
    # their row counts (events is 1000 rows, tick_prices 150)
    import __spark_entry__ as E
    from etl_portfolio_tracker_spark.plans import single_partition_cache_scans
    q = E.queries()["overview"](spark, SF)
    q.collect()
    assert sorted(single_partition_cache_scans(q)) == [150, 1000]


def test_trades_memo_shared_and_built_once(spark, private_sf):
    sf = private_sf("events")
    assert _jobs_during(spark, lambda: derive.trades(spark, sf)) == 0
    assert derive.trades(spark, sf) is derive.trades(spark, sf)
    assert derive.trades(spark, sf).rdd.getNumPartitions() == 1


# --- joins between one-partition memos: inside their one task ----------------

# the queries that join two frames computed from the one-partition memos
MEMO_JOINS = ("overview", "overview_full", "benchmark_overlay",
              "portfolio_twr", "portfolio_value_series",
              "twr_with_benchmark")


@pytest.mark.parametrize("name", MEMO_JOINS)
def test_warm_memo_join_runs_one_job(spark, name):
    # both join inputs plan as one partition, so the shuffle-hash join
    # needs no exchange and no broadcast stage runs as a job of its own
    import __spark_entry__ as E
    E.queries()[name](spark, SF).collect()  # warm the memos
    q = E.queries()[name](spark, SF)
    assert _jobs_launched(spark, q) == 1
    plan = _outside_cache(physical_plan(q))
    assert "ShuffledHashJoin" in plan
    assert "Exchange" not in plan  # no BroadcastExchange either


def _one_partition_range(spark, n):
    from pyspark.sql import functions as F
    return spark.range(n).coalesce(1).select(F.col("id").alias("k"))


def _hints(df) -> str:
    return df._jdf.queryExecution().analyzed().toString().lower()


def test_one_partition_join_hints_small_one_partition_inputs(spark):
    from etl_portfolio_tracker_spark.functions.partitioning import (
        one_partition_join)
    left = _one_partition_range(spark, 50)
    right = _one_partition_range(spark, 10).withColumnRenamed("k", "r")
    j = one_partition_join(left, right, left.k == right.r, "left")
    assert "shuffle_hash" in _hints(j)
    assert _jobs_launched(spark, j) == 1
    assert j.count() == 50
    assert "Exchange" not in physical_plan(j)


@pytest.mark.parametrize("broadcast", (False, True))
def test_one_partition_join_over_the_size_cap_is_unhinted(spark, broadcast):
    # a cross join's estimate is the product of its sides' (~6.4e11 B
    # here), far above spark.sql.maxSinglePartitionBytes (128 MiB), so
    # a hinted join would hash-shuffle both sides: it gets the plain join
    from etl_portfolio_tracker_spark.functions.partitioning import (
        one_partition, one_partition_join)
    big = (spark.range(100_000).crossJoin(
        spark.range(100_000).withColumnRenamed("id", "id2"))
        .coalesce(1).withColumnRenamed("id", "k"))
    small = _one_partition_range(spark, 10).withColumnRenamed("k", "r")
    assert one_partition(big) and one_partition(small)
    assert not one_partition(big, 128 * 1024 * 1024)
    j = one_partition_join(big, small, big.k == small.r, "left",
                           broadcast=broadcast)
    hints = _hints(j)
    assert "shuffle_hash" not in hints
    assert ("broadcast" in hints) == broadcast
    assert not exchanges(j)


# --- one verify kernel: both near-dup verifies read the curation build --------

@pytest.mark.parametrize("name", ("minhash_verified", "tfidf_cosine_verified"))
def test_warm_verify_consumer_runs_one_job(spark, name):
    # the build persists one verify_candidates frame and both verifies
    # are filters of it: no job at construct, one to fetch
    import __spark_entry__ as E
    E._curation(spark, SF)
    q = []
    assert _jobs_during(spark,
                        lambda: q.append(E.queries()[name](spark, SF))) == 0
    assert _jobs_launched(spark, q[0]) == 1


# --- connected components: one job per round ---------------------------------

# warm-band-key jobs of dedup_clusters at sf0.001: the star-edge and
# label checkpoints, the neighbourhood build and one job per
# propagation round
DEDUP_CLUSTERS_JOB_CAP = 17


def _outside_cache(plan: str) -> str:
    """The final adaptive plan minus the subtrees under each
    InMemoryRelation (a cached frame's own build plan)."""
    final = plan.split("\n+- == Initial Plan ==")[0]
    out, cached_at = [], None
    for ln in final.splitlines():
        col = len(ln) - len(ln.lstrip(" :+-"))
        if cached_at is not None and col > cached_at:
            continue
        cached_at = col if "InMemoryRelation" in ln else None
        out.append(ln)
    return "\n".join(out)


def test_dedup_clusters_job_count(spark):
    from etl_portfolio_tracker_spark.io import read_table
    from etl_portfolio_tracker_spark.operators import dedup as DD
    docs = read_table(spark, SF, "documents")
    bk = DD.minhash_band_keys(docs).persist()
    try:
        bk.count()
        jobs = _jobs_during(spark,
                            lambda: DD.dedup_clusters(docs, band_keys=bk))
    finally:
        bk.unpersist()
    assert jobs <= DEDUP_CLUSTERS_JOB_CAP


def _recorded_checkpoints(monkeypatch, DD) -> list:
    """Patch DD.iter_checkpoint to record each frame it is given."""
    checkpointed = []
    real = DD.iter_checkpoint

    def record(df, eager=True):
        checkpointed.append(df)
        return real(df, eager=eager)

    monkeypatch.setattr(DD, "iter_checkpoint", record)
    return checkpointed


def test_cc_round_is_one_window_one_aggregate(cc_graph, monkeypatch):
    # a round is (neighbourhood ∪ labels) → min over a doc_b window →
    # min per doc: no join, no left join back onto the labels, one
    # window, one (final) aggregate, and no exchange outside the
    # cached neighbourhood while the graph fits one partition
    import re
    from etl_portfolio_tracker_spark.operators import dedup as DD
    checkpointed = _recorded_checkpoints(monkeypatch, DD)
    labels0, edges = cc_graph([(0, 1), (1, 2), (3, 4)], 6)
    DD.min_label_components(labels0, edges).collect()
    # [0] is the initial labels; [1] the first round
    plan = _outside_cache(physical_plan(checkpointed[1]))
    assert not re.findall(r"\w+Join\b", plan)
    assert "LeftOuter" not in plan
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    assert "Exchange" not in plan
    finals = [ln for ln in plan.splitlines()
              if "HashAggregate" in ln and "partial_" not in ln]
    assert len(finals) == 1


def test_cc_every_round_runs_one_job_of_one_task(
        spark, cc_graph, monkeypatch):
    # the round's window and aggregate run inside its checkpoint's one
    # task: no broadcast, no shuffle stage, no other job per round
    from etl_portfolio_tracker_spark.operators import dedup as DD
    st = spark.sparkContext.statusTracker()
    real = DD.iter_checkpoint
    per_call = []  # the task count of each job, per checkpoint call

    def counted(df, eager=True):
        out = []
        jobs = _job_ids_during(spark,
                               lambda: out.append(real(df, eager=eager)))
        per_call.append([sum(st.getStageInfo(s).numTasks
                             for s in st.getJobInfo(j).stageIds)
                         for j in jobs])
        return out[0]

    monkeypatch.setattr(DD, "iter_checkpoint", counted)
    labels0, edges = cc_graph([(i, i + 1) for i in range(5)], 8)
    DD.min_label_components(labels0, edges).collect()
    # [0] is the initial labels, then one call per round (the
    # neighbourhood is built before the first): path 0..5 takes 5
    # rounds to carry label 0 across plus one to see the fixpoint
    rounds = per_call[1:]
    assert len(rounds) == 6
    assert rounds == [[1]] * len(rounds)


def test_cc_above_single_partition_cap_shuffles_and_matches_union_find(
        spark, monkeypatch):
    # a neighbourhood measured above spark.sql.maxSinglePartitionBytes
    # keeps the union as it is: the round hash-shuffles by doc_b for
    # the window and by doc_a for the aggregate, with the same labels
    import random
    from pyspark.sql import functions as F
    from etl_portfolio_tracker_spark.operators import dedup as DD
    key = "spark.sql.maxSinglePartitionBytes"
    prev = spark.conf.get(key, None)
    checkpointed = _recorded_checkpoints(monkeypatch, DD)
    rng = random.Random(11)
    spark.conf.set(key, "1")
    try:
        for trial in range(3):
            n = 30
            pairs = sorted({tuple(sorted(rng.sample(range(n), 2)))
                            for _ in range(rng.randint(5, 40))})
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    x = parent[x]
                return x

            for a, b in pairs:
                parent[max(find(a), find(b))] = min(find(a), find(b))
            edges = spark.createDataFrame(
                pairs + [(b, a) for a, b in pairs], "doc_a long, doc_b long")
            labels0 = spark.range(n).select(F.col("id").alias("doc_id"),
                                            F.col("id").alias("cluster_id"))
            del checkpointed[:]
            got = {r["doc_id"]: r["cluster_id"] for r in
                   DD.min_label_components(labels0, edges).collect()}
            assert got == {i: find(i) for i in range(n)}, trial
            plan = _outside_cache(physical_plan(checkpointed[1]))
            assert "Exchange hashpartitioning(doc_b" in plan
            assert "Exchange hashpartitioning(doc_a" in plan
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_cc_concurrent_calls_match_serial(cc_graph):
    # the curation build runs CC from a thread pool: concurrent calls
    # must not share convergence metrics or storage
    from concurrent.futures import ThreadPoolExecutor
    from etl_portfolio_tracker_spark.operators import dedup as DD
    graphs = [cc_graph([(i, i + 1) for i in range(7)], 9),
              cc_graph([(0, 5), (5, 9), (2, 3), (7, 8)], 10)]

    def labels(g):
        return sorted(tuple(r) for r in
                      DD.min_label_components(*g).collect())

    serial = [labels(g) for g in graphs]
    with ThreadPoolExecutor(max_workers=2) as pool:
        concurrent = list(pool.map(labels, graphs))
    assert concurrent == serial
    assert serial[0] == [(i, 0) for i in range(8)] + [(8, 8)]
