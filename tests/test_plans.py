"""Physical-plan audits: the scale design rules, enforced.

These tests fail when a change silently de-optimizes a headline plan —
the local[32] analog of "would this survive a 100× scale-up".
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fink_joiner_spark import plans
from fink_joiner_spark.catalog import table
from fink_joiner_spark.queries import REGISTRY, _ensure_loaded

_ensure_loaded()


def _q(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def test_flagship_broadcasts_small_dims(spark, sf_dir):
    df = _q("flagship_dedup_left_join", spark, sf_dir)
    plans.asserts_broadcast_join(df, min_count=2)  # nation + region at least
    plans.asserts_no_cartesian(df)
    plans.asserts_whole_stage_codegen(df)


def test_flagship_prunes_event_columns(spark, sf_dir):
    # flagship reads 5 of events' 6 columns (props unused)
    df = _q("flagship_dedup_left_join", spark, sf_dir)
    plans.asserts_column_pruned(df, "user_id", max_cols=5)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    df = ev.filter(F.col("event_type") == "click").select("event_id")
    plans.asserts_filter_pushed(df, "event_type")
    plans.asserts_column_pruned(df, "event_id", max_cols=2)


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The union-tag as-of plan must shuffle ONCE on the key — that is
    its scale advantage over a pair-explosion range join."""
    df = _q("j3_asof_join_inner", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    assert plans.count_shuffles(df) <= 2, plans.formatted_plan(df)


def test_topk_bruteforce_broadcasts_queries(spark, sf_dir):
    df = _q("simsearch_topk_bruteforce", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_dedup_is_partial_agg(spark, sf_dir):
    """latest_per_key_all_ties must plan map-side partial aggregation
    (two HashAggregate rounds) so the shuffle carries one row per key
    per map task, not the raw stream."""
    ev = table(spark, sf_dir, "events")
    from fink_joiner_spark.operators import dedup

    df = dedup.group_max(ev, ["user_id"], "ts", "max_ts")
    plan = plans.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_j1_no_cartesian_and_codegen(spark, sf_dir):
    df = _q("j1_multiway_left_join", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    plans.asserts_whole_stage_codegen(df)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Lake layout: write documents partitioned by lang; a lang-filtered
    read must show PartitionFilters and scan only that partition."""
    from fink_joiner_spark.sources.sinks import write_partitioned

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "lake")
    write_partitioned(docs, out, ["lang"])

    back = spark.read.parquet(out).filter(F.col("lang") == "en").select("doc_id")
    plan = plans.formatted_plan(back)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:200], plan
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_global_topn_avoids_total_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition top-N + merge), never a full range-partition sort."""
    df = _q("ext_global_sort_topn", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_window_analytics_single_shuffle(spark, sf_dir):
    """Four analytic frames over the same (partition, order) must share
    ONE hash exchange on user_id."""
    df = _q("ext_window_analytics", spark, sf_dir)
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)


def test_tpch_q1_partial_agg_and_pushdown(spark, sf_dir):
    """Q1: shipdate filter reaches the scan; one shuffle (partial agg
    map-side, final agg after a single exchange on the group keys)."""
    df = _q("ext_tpch_q1_pricing", spark, sf_dir)
    plans.asserts_filter_pushed(df, "l_shipdate")
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)
    plans.asserts_whole_stage_codegen(df)


def test_split_and_sample_are_scan_resident(spark, sf_dir):
    """Split/sample are pure expressions: zero shuffles, codegen."""
    for name in ("ext_train_val_test_split", "ext_stratified_sample"):
        df = _q(name, spark, sf_dir)
        assert plans.count_shuffles(df) == 0, (name, plans.formatted_plan(df))
        plans.asserts_whole_stage_codegen(df)


def test_chunking_prunes_columns(spark, sf_dir):
    """The chunker reads only (doc_id, text) of documents' 5 columns."""
    df = _q("ext_doc_chunks", spark, sf_dir)
    plans.asserts_column_pruned(df, "doc_id", max_cols=2)
    assert plans.count_shuffles(df) == 0, plans.formatted_plan(df)


def test_interval_join_no_cartesian(spark, sf_dir):
    """The banded plan must be an equi-join on the bin — a plain range
    predicate would fall back to BroadcastNestedLoop/Cartesian."""
    df = _q("ext_interval_join_banded", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_dynamic_partition_pruning_from_join(spark, sf_dir, tmp_path):
    """DPP: a join against a selectively-filtered dim must prune the
    partitioned fact scan at RUNTIME (dynamicpruningexpression in
    PartitionFilters) — at 100 TB this is what keeps 'join facts to this
    week's dim slice' from scanning every date partition. Static
    partition pruning (literal filters) is audited separately above."""
    ev = table(spark, sf_dir, "events")
    out = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", "keep"), ("view", "drop"), ("error", "drop")],
        "event_type string, tag string",
    ).filter(F.col("tag") == "keep")
    joined = fact.join(F.broadcast(dim), "event_type").select("event_id", "tag")
    plan = plans.formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), f"no DPP in plan:\n{plan}"


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # the eval shingle set must join as a broadcast — the corpus side
    # (the 100 TB side) must never shuffle for the membership test
    df = _q("text_decontaminate", spark, sf_dir)
    plans.asserts_broadcast_join(df, min_count=1)
    plans.asserts_no_cartesian(df)


def test_top_ngrams_avoids_total_sort(spark, sf_dir):
    df = _q("text_top_ngrams", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_cap_per_source_single_shuffle(spark, sf_dir):
    # one hash shuffle on the group key, nothing else
    df = _q("ext_cap_per_source", spark, sf_dir)
    assert plans.count_shuffles(df) == 1
    plans.asserts_column_pruned(df, "doc_id", max_cols=2)


def test_pack_sequences_single_shuffle_no_global_sort(spark, sf_dir):
    # per-shard window: exactly one hashpartitioning(source) exchange,
    # and no rangepartitioning (which would mean a global sort)
    df = _q("ext_pack_sequences", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_embedding_quantize_scan_resident(spark, sf_dir):
    # pure column expressions: zero shuffles, runs inside codegen
    df = _q("ext_embedding_quantize", spark, sf_dir)
    assert plans.count_shuffles(df) == 0
    plans.asserts_whole_stage_codegen(df)


def test_dup_segments_two_shuffles(spark, sf_dir):
    # explode -> groupBy(segment) -> join back -> groupBy(doc): the
    # doc-frequency agg and the per-doc re-agg, nothing more
    df = _q("text_dup_segments", spark, sf_dir)
    assert plans.count_shuffles(df) <= 3


def test_unigram_score_broadcasts_vocab(spark, sf_dir):
    # vocabulary lookup is a broadcast join — corpus tokens never
    # shuffle for it; only the per-doc agg shuffles
    df = _q("text_unigram_score", spark, sf_dir)
    plans.asserts_broadcast_join(df, min_count=2)  # vocab + total scalar


def test_bm25_broadcasts_term_stats(spark, sf_dir):
    df = _q("text_bm25_relevance", spark, sf_dir)
    plans.asserts_broadcast_join(df, min_count=2)  # dfreq + corpus stats
    plans.asserts_no_cartesian(df)


def test_value_histogram_single_shuffle(spark, sf_dir):
    df = _q("ext_value_histogram", spark, sf_dir)
    assert plans.count_shuffles(df) == 1
    plans.asserts_column_pruned(df, "value", max_cols=1)


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both windows (lag + running sum) and the final per-session agg
    share the user_id hash partitioning: ONE exchange total."""
    df = _q("ext_sessionize", spark, sf_dir)
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)


def test_vocab_topn_avoids_total_sort(spark, sf_dir):
    """The top-n cut must plan as TakeOrderedAndProject (per-partition
    heaps), never a global Sort of the token-count table."""
    df = _q("ext_vocab_topn", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_docs_to_ids_broadcasts_vocab(spark, sf_dir):
    """The vocab side is top-n-bounded — it must reach the token stream
    as a broadcast, and the reassembly is the only doc-keyed exchange
    of the mapping stage (plus the vocab build's own count/top-n)."""
    df = _q("ext_docs_to_ids", spark, sf_dir)
    plans.asserts_broadcast_join(df)
    assert plans.count_shuffles(df) <= 2, plans.formatted_plan(df)


def test_ivfpq_candidates_cell_keyed_no_cartesian(spark, sf_dir):
    """IVF-PQ candidate generation must be the cell-keyed equi-join
    (probes broadcast onto the encoded index) — never a cartesian of
    queries x corpus; the only corpus-wide exchanges are the PQ
    training aggregations."""
    df = _q("simsearch_topk_ivfpq", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    plans.asserts_broadcast_join(df)


def test_bucketed_colocated_join_zero_exchanges(spark, sf_dir):
    """Both sides bucketed by the join key: the join AND the keyed agg
    must run with ZERO shuffle exchanges — the storage layout is the
    partitioning."""
    df = _q("ext_bucketed_colocated_join", spark, sf_dir)
    assert plans.count_shuffles(df) == 0, plans.formatted_plan(df)


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted plan keys its exchanges by (key, salt) — the salt
    column must appear in the join's partitioning arguments."""
    df = _q("ext_salted_join", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "__salt" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime (row-level) bloom-filter join pruning: a selective dim
    filter must inject a `might_contain` semi-filter onto the FACT side
    before its shuffle — at 100 TB this drops most fact rows at the
    scan instead of shuffling them. The creation/application-side size
    thresholds are tuned for clusters; at test scale we zero the
    application-side floor purely to let the optimizer fire."""
    from fink_joiner_spark.queries import scoped_conf

    ln = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").where("o_totalprice > 400000")
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"), scoped_conf(
        spark,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    ):
        j = ln.join(orders, ln.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = plans.formatted_plan(j)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_shuffle_hash_hint_overrides_smj(spark, sf_dir):
    """Join-strategy hints are part of the tuning surface: a mid-sized
    build side that exceeds the broadcast threshold but fits executor
    memory should take SHUFFLE_HASH (no sort phase) when hinted."""
    ln = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    j = ln.join(orders.hint("shuffle_hash"), ln.l_orderkey == orders.o_orderkey)
    plan = plans.formatted_plan(j)
    assert "ShuffledHashJoin" in plan, plan


def test_grouping_sets_single_expand_one_shuffle(spark, sf_dir):
    """GROUPING SETS must plan as ONE Expand + one aggregate exchange —
    not one scan per grouping set."""
    df = _q("ext_grouping_sets", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("Expand") >= 1
    assert plans.count_shuffles(df) == 1, plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    df = _q("ext_weighted_sample", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-k heap, no global sort


def test_gap_fill_no_single_partition_exchange(spark, sf_dir):
    df = _q("ext_gap_fill", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SinglePartition" not in plan  # spine + LOCF stay per-key


def test_funnel_single_keyed_shuffle(spark, sf_dir):
    df = _q("ext_event_funnel", spark, sf_dir)
    # one hash shuffle (per-user fold); the final 1-row agg is
    # SinglePartition by nature and carries only 4 counters
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)


def test_prefix_jaccard_no_cartesian(spark, sf_dir):
    df = _q("dedup_jaccard_prefix", spark, sf_dir)
    plans.asserts_no_cartesian(df)


def test_phrase_search_broadcasts_offsets(spark, sf_dir):
    df = _q("ext_search_phrase", spark, sf_dir)
    plans.asserts_broadcast_join(df)


def test_checksum_diff_shuffles_digests_not_rows(spark, sf_dir):
    """Reconciliation must exchange bucket digests, not rows: each side
    is one partial-aggregated shuffle on the bucket key, and the final
    diff join runs over digest-sized (64-row) inputs — no cartesian,
    column-pruned to the 4 signature columns of orders."""
    df = _q("ext_table_checksum_diff", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    # 2 digest aggregations + the digest-diff join at most
    assert plans.count_shuffles(df) <= 3, plans.formatted_plan(df)
    # orders has 6 columns; the signature uses 4
    plans.asserts_column_pruned(df, "o_orderkey", max_cols=4)


def test_token_entropy_is_partial_aggregated_codegen(spark, sf_dir):
    """Entropy = wordcount-shaped: (doc,word) agg then doc agg, both
    codegen-resident, reading only (doc_id, text)."""
    df = _q("text_token_entropy", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    assert plans.count_shuffles(df) <= 2, plans.formatted_plan(df)
    plans.asserts_column_pruned(df, "doc_id", max_cols=2)
    plans.asserts_whole_stage_codegen(df)


def test_skyline_no_single_partition_window(spark, sf_dir):
    """ext_skyline_2d's running max must plan PARTITIONED windows only:
    no SinglePartition exchange anywhere (the r4 version funneled the
    whole distinct-price set through one task)."""
    df = _q("ext_skyline_2d", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan, plan


def test_tpch_q6_pushdown_and_single_agg(spark, sf_dir):
    """Q6 is THE pushdown query: date/discount/quantity predicates must
    reach the parquet scan, and the plan is a single partial-agg pair —
    no joins, no extra exchanges."""
    df = _q("ext_tpch_q6_forecast", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "PushedFilters:" in plan and "l_discount" in plan, plan
    plans.asserts_no_cartesian(df)


def test_tpch_q17_broadcasts_part_dim(spark, sf_dir):
    df = _q("ext_tpch_q17_small_qty", spark, sf_dir)
    plans.asserts_broadcast_join(df)
    plans.asserts_no_cartesian(df)


def test_tpch_q4_semi_join_shape(spark, sf_dir):
    """Q4's EXISTS must plan as a LEFT SEMI join (one output row per
    order, no post-join dedup) with the quarter filter pushed to the
    orders scan."""
    df = _q("ext_tpch_q4_priority", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "PushedFilters:" in plan and "o_orderdate" in plan, plan
    plans.asserts_no_cartesian(df)


def test_tpch_q19_prefilters_reach_scans(spark, sf_dir):
    """Q19's implied single-side bounds (p_size <= 15, quantity <= 30)
    must push to their scans — the disjunction itself evaluates only on
    surviving rows — and the part side must broadcast."""
    df = _q("ext_tpch_q19_disjunctive", spark, sf_dir)
    plan = plans.formatted_plan(df)
    # a PushedFilters LINE must carry the quantity bound — splitting on
    # the marker would degrade to the whole plan (and pass vacuously)
    # when pushdown regresses entirely
    pushed_lines = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert pushed_lines, plan
    assert any("l_quantity" in ln for ln in pushed_lines), plan
    plans.asserts_broadcast_join(df)
    plans.asserts_no_cartesian(df)


def test_tpch_q22_anti_join_and_integer_threshold(spark, sf_dir):
    """Q22's NOT EXISTS must plan as LEFT ANTI; the 1-row threshold
    aggregate and nation dim ride broadcasts (no shuffle keyed on the
    threshold)."""
    df = _q("ext_tpch_q22_dormant", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftAnti" in plan, plan
    plans.asserts_broadcast_join(df)


def test_tpch_q13_left_outer_survives(spark, sf_dir):
    """Q13's non-key predicate lives INSIDE the left join: customers
    with only urgent orders must appear with c_count = 0, so the plan
    must keep LeftOuter (a pushed post-filter would silently turn it
    inner)."""
    df = _q("ext_tpch_q13_order_dist", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftOuter" in plan, plan
    # Σ custdist must equal |customer| — an inner join (or a predicate
    # pushed below the outer join) would drop zero-order customers and
    # break the identity on fixtures that have them.
    n_cust = table(spark, sf_dir, "customer").count()
    total = df.agg(F.sum("custdist").alias("t")).collect()[0]["t"]
    assert total == n_cust, (total, n_cust)

    # and on a fixture that GUARANTEES a zero-order customer, the
    # count-0 bucket must survive
    c = spark.createDataFrame([(1,), (2,)], "c_custkey long")
    o = spark.createDataFrame(
        [(10, 1, "1-URGENT"), (11, 1, "5-LOW")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    per = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    got = {r.c_custkey: r.c_count for r in per.collect()}
    assert got == {1: 1, 2: 0}


def test_semdedup_pair_join_keeps_parallelism(spark, sf_dir):
    """The semdedup pair join input is tiny (~n rows) but the join
    INFLATES to Σ|cluster|² pairs — AQE's size-based coalescing must
    not collapse it to one task. The explicit keyed repartition is
    exempt from coalescing; pin its presence."""
    df = _q("dedup_semantic_semdedup", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "REPARTITION_BY_NUM" in plan or "RepartitionByExpression" in plan, plan


def test_semdedup_grid_invariance(spark, sf_dir):
    """Grid-salting is a placement choice: the kept set must be
    IDENTICAL for any pair_grid (each unordered pair lands in exactly
    one block)."""
    from fink_joiner_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    kept = [
        {
            (r.vec_id, r.cid)
            for r in similarity.semantic_dedup_keep(
                emb, "vec_id", "embedding", cent, threshold=0.3, pair_grid=gv
            ).collect()
        }
        for gv in (1, 3)
    ]
    assert kept[0] == kept[1] and kept[0]


def test_negative_sampling_no_cross_join(spark, sf_dir):
    """Candidates are a bounded per-user oversample — the plan must
    not contain a cartesian user x item product, and the rank window
    must be user-partitioned."""
    df = _q("ext_negative_sampling", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    plan = plans.formatted_plan(df)
    assert "SinglePartition" not in plan, plan


def test_kmeans_epoch_shuffles_groups_not_vectors(spark, sf_dir):
    """Re-centering must aggregate (cluster, dim) partial sums — no
    single-partition exchange, no cartesian beyond the broadcast
    centroid pass."""
    df = _q("ext_kmeans_epoch", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    plans.asserts_whole_stage_codegen(df)


def test_ols_trend_uses_broadcast_origin_not_window(spark, sf_dir):
    """The per-group time origin rides a broadcast join; a
    low-cardinality partitioned window would serialize each group
    through one task at scale."""
    df = _q("ext_group_ols_trend", spark, sf_dir)
    plans.asserts_broadcast_join(df)
    plan = plans.formatted_plan(df)
    assert "Window" not in plan, plan


def test_cusum_uses_takeordered_and_partitioned_prefix(spark, sf_dir):
    """CUSUM's global pieces must stay aggregate-sized: top-10 via
    TakeOrdered (no full sort) and the prefix sum via the audited
    two-phase helper (no SinglePartition window)."""
    df = _q("ext_cusum_changepoints", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # the prefix-sum window must ride a HASH exchange (two-phase
    # helper); TakeOrdered's own SinglePartition merge is bounded
    # (10 rows per partition) and legitimate, so don't blanket-ban it
    assert "Arguments: hashpartitioning" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_mode_per_group_no_window(spark, sf_dir):
    df = _q("ext_mode_per_group", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Window" not in plan, plan
    plans.asserts_whole_stage_codegen(df)


def test_topk_with_ties_window_is_key_partitioned(spark, sf_dir):
    df = _q("ext_topk_with_ties", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Window" in plan and "SinglePartition" not in plan, plan


def test_tpch_q14_pushdown_pruning_broadcast(spark, sf_dir):
    """The round-8 TPC-H shapes must keep the plan a 100 TB plan: the
    month filter reaches the lineitem scan (PushedFilters), the fact
    scan reads only the four needed columns (ReadSchema), and the part
    dim joins as a broadcast — no shuffle of the fact side for a dim
    lookup."""
    import re

    from fink_joiner_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["ext_tpch_q14_promo_revenue"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(l_shipdate" in plan  # filter at the scan
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, plan[:500]
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_partkey", "l_extendedprice", "l_discount", "l_shipdate"}
    assert "BroadcastHashJoin" in plan


def test_tpch_q21_plans_semi_and_anti_no_cartesian(spark, sf_dir):
    """The round-9 decorrelation shapes: Q21's correlated EXISTS /
    NOT EXISTS (equality + non-equality correlation each) must lower
    to a left-semi and a left-anti join keyed on l_orderkey — never a
    per-row re-execution or a cartesian product."""
    df = _q("ext_tpch_q21_waiting_supplier", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    plans.asserts_no_cartesian(df)


def test_tpch_q20_plans_semi_chain_no_cartesian(spark, sf_dir):
    """Q20's nested INs must both lower to semi-joins and the
    two-column-correlated scalar SUM to one grouped aggregate joined
    back (no correlated re-execution node survives)."""
    df = _q("ext_tpch_q20_stock_concentration", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    plans.asserts_no_cartesian(df)


def test_tpch_q2_scalar_min_decorrelates(spark, sf_dir):
    """Q2's correlated scalar MIN over a 4-way join must decorrelate
    into an aggregate joined back on p_partkey — the plan contains a
    grouped MIN and no cartesian."""
    df = _q("ext_tpch_q2_min_cost_supplier", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "min(" in plan, plan
    plans.asserts_no_cartesian(df)


def test_tpch_q9_dims_broadcast_fact_pruned(spark, sf_dir):
    """Q9's 5-way snowflake must stay a fact-through-dims plan at
    100 TB: the small dims join as broadcasts (never a shuffle of the
    fact side for a dim lookup), the LIKE filter reaches the part scan,
    and the lineitem scan reads only the five needed columns."""
    import re

    df = _q("ext_tpch_q9_product_profit", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "StringContains(p_name,widget)" in plan.replace(" ", ""), plan[:800]
    # ReadSchema gets truncated in toString at 6 columns — audit the
    # scan's (untruncated) output column list instead.
    m = re.search(r"FileScan parquet \[(l_[^\]]*)\]", plan)
    assert m, plan[:500]
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    }
    plans.asserts_no_cartesian(df)


def test_tpch_q11_scalar_total_computed_once(spark, sf_dir):
    """Q11's HAVING threshold is an UNCORRELATED scalar subquery over
    the same derived table — it must plan as one scalar subquery
    (computed once, fed in as a literal), never a per-group re-execution
    or a cartesian."""
    df = _q("ext_tpch_q11_important_stock", spark, sf_dir)
    analyzed = df._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" in analyzed, analyzed[:800]
    plans.asserts_no_cartesian(df)


def test_tpch_q12_date_window_reaches_scan(spark, sf_dir):
    """Q12's date window must push to the lineitem scan; the
    cross-table lateness inequality stays a join residual (it cannot
    push) — and the scan reads only the three needed columns."""
    import re

    df = _q("ext_tpch_q12_priority_by_class", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan[:800]
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, plan[:500]
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_returnflag", "l_shipdate"}
    plans.asserts_no_cartesian(df)


def test_tpch_q16_not_in_plans_null_aware_anti(spark, sf_dir):
    """Q16's NOT IN over supplier must lower to a (null-aware) left-anti
    join — never a per-row subquery re-execution or a cartesian."""
    df = _q("ext_tpch_q16_supplier_relationship", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftAnti" in plan, plan
    plans.asserts_no_cartesian(df)


def test_dsir_weight_join_broadcasts_no_cartesian(spark, sf_dir):
    """DSIR's per-doc scoring joins every token row to the bounded
    (≤ n_buckets) weight table — that join must broadcast, and nothing
    in the pipeline may degenerate to a cartesian product."""
    df = _q("ext_dsir_select", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_cross_corpus_dedup_candidates_are_keyed(spark, sf_dir):
    """The ingest gate's candidate generation must stay a (band,
    bucket)-keyed equi-join — never new×ref — and the final keep is a
    left-anti join, not a subtract over the corpus."""
    df = _q("dedup_cross_corpus", spark, sf_dir)
    plans.asserts_no_cartesian(df)
    plan = plans.formatted_plan(df)
    assert "LeftAnti" in plan, plan


def test_capped_dedup_family_no_cartesian_keyed_joins(spark, sf_dir, monkeypatch):
    """r11 posting-cap family: capped jaccard/containment and
    prefix-filtered containment must stay keyed joins (no cartesian,
    no broadcast-nested-loop) and read only (doc_id, text).

    The CAPPED paths pin the shingle frame once (similarity._pin_once),
    so their result plans hide the scan behind the pinned leaf.
    ADVICE r13: auditing a standalone _shingle_frame would let an
    operator that widens its own pre-pin frame (or stops going through
    _shingle_frame) regress silently — so for them the pruning audit
    runs on the EXACT frames the operators hand to _pin_once, recorded
    by a wrapper patched over similarity._pin_once while each
    registered query builds its plan. The PREFIX path no longer pins
    (r14 A/B removed the never-won pin, verdict ask #4), so its scans
    are back in the result plan and audited directly there."""
    from fink_joiner_spark.operators import similarity

    real_pin_once = similarity._pin_once
    recorded: list = []

    def recording_pin_once(df):
        recorded.append(df)
        return real_pin_once(df)

    monkeypatch.setattr(similarity, "_pin_once", recording_pin_once)
    captured: dict[str, list] = {}
    for name in ("dedup_jaccard_capped", "dedup_containment_capped",
                 "dedup_containment_prefix"):
        recorded.clear()
        df = _q(name, spark, sf_dir)
        captured[name] = list(recorded)
        plan = plans.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        if name == "dedup_containment_prefix":
            # unpinned: every documents scan is visible in the result
            # plan and must stay pruned to (doc_id, text)
            plans.asserts_column_pruned(df, "doc_id", max_cols=2)
    from fink_joiner_spark.operators import graph

    graph.free_checkpoints()
    # one pinned shingle frame per capped operator, none on the prefix
    # path — a changed count means the pin placement moved and this
    # audit needs revisiting
    assert {name: len(frames) for name, frames in captured.items()} == {
        "dedup_jaccard_capped": 1,
        "dedup_containment_capped": 1,
        "dedup_containment_prefix": 0,
    }
    for frames in captured.values():
        for pre_pin in frames:
            # every pinned subtree must feed a (doc_id, text)-pruned
            # parquet scan of the documents table
            plans.asserts_column_pruned(pre_pin, "doc_id", max_cols=2)


def test_rolling_winnowing_plan_is_keyed_and_pruned(spark, sf_dir):
    """Rolling winnowing: power-table joins must be broadcasts (the
    tables are bounded by max doc length), the pair join keyed, the
    scan pruned to (doc_id, text)."""
    df = _q("dedup_winnowing_rolling", spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plans.asserts_broadcast_join(df, min_count=2)  # powi + powb
    plans.asserts_column_pruned(df, "doc_id", max_cols=2)
