"""Physical-plan regression guards.

PLANS.md documents the plans we want; this test FAILS if a future
change silently de-optimizes one — an unplanned nested-loop join
appearing, or a scan reading more columns than the query needs
(pruning lost). Expectations were generated from the current plans
and reviewed against SCALING.md's design claims.

Mostly explain-only, with one caveat: queries that pin an
intermediate via ``localCheckpoint(eager=True)``
(benchmark_contamination, pack_sequences_2048, curation_pipeline_e2e)
execute that pinned prefix as a real Spark job during plan
construction — their empty-scan expectation below exists precisely
because the final plan reads the materialized RDD, not parquet.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from financial_anomaly_detection_spark.plans.inspect import (
    single_partition_violations,
)
from financial_anomaly_detection_spark.queries import REGISTRY

_SRC_ROOT = pathlib.Path(__file__).resolve().parent.parent / (
    "financial_anomaly_detection_spark"
)

# name -> (max NLJ/cartesian nodes, {table: max scan columns}).
# The three queries allowed one NLJ broadcast a single-row/oracle-tier
# side by design: ann_cosine_topk (exact all-pairs baseline),
# q11/q22 (scalar-aggregate threshold join).
EXPECTED = {
    "rules_fusion_risk": (0, {"events": 6}),
    "profile_join_deviation": (0, {"events": 4}),
    "window_transform_profile": (0, {"events": 3}),
    "asof_profile": (0, {"events": 4}),
    "asof_join_purchase_click": (0, {"events": 5}),
    "time_range_self_join": (0, {"events": 3}),
    "q1_pricing_summary": (0, {"lineitem": 7}),
    "q3_shipping_priority": (0, {"lineitem": 4, "orders": 3, "customer": 2}),
    "q5_region_volume": (
        0,
        {"lineitem": 4, "orders": 3, "customer": 1, "supplier": 2,
         "nation": 3, "region": 1},
    ),
    "q9_profit_by_nation_year": (
        0,
        {"lineitem": 6, "orders": 2, "part": 2, "supplier": 2, "nation": 2},
    ),
    "q16_supplier_part_counts": (0, {"lineitem": 2, "supplier": 2, "part": 4}),
    "q20_promo_part_shippers": (0, {"supplier": 3, "lineitem": 4, "part": 2}),
    "q21_waiting_suppliers": (0, {"lineitem": 3, "orders": 2, "supplier": 2}),
    "sessionize_events": (0, {"events": 3}),
    "dedup_exact_docs": (0, {"documents": 2}),
    # r13: the exploded shingle frame is pinned (3 consumers) — the
    # final plan reads the checkpointed frame; documents pruning is
    # guarded on the shared pre-checkpoint builder
    # (test_prefix_filter_shingle_stage_prunes_documents_scan)
    "ngram_jaccard_pairs": (0, {}),
    # gram table is pinned via localCheckpoint: the plan reads the
    # materialized RDD, so no parquet scan appears downstream
    "benchmark_contamination": (0, {}),
    # two-pass parallel prefix sum: input skeleton pinned, the one NLJ
    # is the intentional triangular join over the <=64-row bucket
    # subtotal table (operators/prefix.py)
    "pack_sequences_2048": (1, {}),
    "curation_pipeline_e2e": (1, {}),
    "c4_quality_filters": (0, {"documents": 3}),
    "ann_cosine_topk": (1, {"embeddings": 2}),
    "q11_important_parts": (1, {"lineitem": 3}),
    "q22_dormant_customers": (1, {"customer": 3, "orders": 2}),
    # round-5 additions: sketch grid, layout report, bucketed negative
    # sampling, diversity audit, streaming-plan replay — all zero-NLJ,
    # column-pruned
    "cms_heavy_hitters": (0, {"events": 1}),
    "zorder_layout_parts": (0, {"part": 2}),
    "contrastive_negative_pairs": (0, {"documents": 1}),
    "ngram_diversity_by_source": (0, {"documents": 2}),
    "stream_replay_scoring": (0, {"events": 6}),
    "bloom_semi_join_prune": (0, {"orders": 3, "customer": 2}),
    # r13: the shingle-array frame is pinned (3 consumers), so the
    # final plan reads the checkpointed frame; the 2-col documents
    # pruning is guarded on the pre-checkpoint builder in
    # test_prefix_filter_shingle_stage_prunes_documents_scan
    "jaccard_pairs_prefix_filter": (0, {}),
    # the two NLJ are intentional broadcast single-row joins (the
    # z_scaled scalar and the true-count scalar), as in pagerank
    "hll_exact_md5": (2, {"events": 1}),
    # three intentional broadcast single-row joins (the per-set ledger)
    "kmv_set_cardinality": (3, {"events": 2}),
    # edge list pinned via localCheckpoint -> no parquet scan downstream
    "triangle_count_copurchase": (0, {}),
    "dedup_rapid_repeats": (0, {"events": 3}),
    "fuzzy_name_pairs_ed1": (0, {"customer": 1}),
    "markov_transition_matrix": (0, {"events": 4}),
    # daily count table pinned via localCheckpoint -> no parquet scan
    "theilsen_daily_trend": (0, {}),
    # round-5b additions. NLJ allowances are all intentional bounded
    # broadcasts: the two-pass prefix scan's triangular subtotal join
    # (max_concurrent/quantile_sketch), single-row scalar/total joins
    # (pmi/write_plan/cms_join/skew/acf's 7-row lag table), and rrf's
    # single-row query-vector join + bounded top-100 rank lists.
    "cusum_changepoint_daily": (0, {}),
    "ols_trend_daily": (0, {"events": 3}),
    "acf_daily_lags": (1, {}),
    "dow_seasonality_index": (0, {}),
    "rolling_median_daily": (0, {"events": 3}),
    "max_concurrent_sessions": (1, {}),
    "longest_dup_span_pairs": (0, {"documents": 2}),
    "pmi_collocations": (2, {}),
    "bfs_reachability_copurchase": (0, {}),
    # r12: quantile_sketch_estimates pins the knots (its Arrow
    # summarize stage ran once PER consumer unpinned), so the final
    # plan reads the checkpointed knot frame, not parquet — events
    # pruning is guarded on the pre-checkpoint builder in
    # test_quantile_knot_stage_prunes_events_scan. The prefix scan now
    # runs lazy over the pin, exposing its grid-sized triangular/
    # bounds broadcasts (<=64-row subtotals + one-row totals x 7-row
    # quantile spine) in the final plan: 6 bounded NLJ, never
    # data-scale.
    "quantile_sketch_values": (6, {}),
    "rrf_fusion_topk": (4, {"embeddings": 2, "documents": 2}),
    "semdedup_embeddings": (0, {}),
    "write_partition_plan": (1, {"events": 2}),
    "cms_join_cardinality": (1, {"events": 1, "orders": 1}),
    # round-11: the redundant eager checkpoints were dropped (AQE's
    # stage cache reuses the count shuffle), so the plan reads the
    # pruned 1-col events scan again; the 2 NLJ stay the benign
    # one-row stats x top-10 broadcast joins
    "shuffle_skew_report": (2, {"events": 1}),
    "table_profile_events": (0, {}),
    "trigram_event_sequences": (0, {"events": 4}),
    "seasonal_robust_outliers": (0, {"events": 3}),
    "referential_integrity_audit": (
        0,
        {"orders": 1, "customer": 1, "lineitem": 1, "part": 1,
         "supplier": 1, "events": 1},
    ),
    "hll_weekly_rollup": (0, {"events": 2}),
    "profile_incremental_merge": (0, {"events": 3}),
    "bpe_tokenize_docs": (0, {"documents": 2}),
    # the one NLJ is the broadcast query-set join (ADC pair expansion)
    "ann_pq_topk": (1, {"embeddings": 2}),
    # IVFADC: Arrow kernels + (cell) equi-join + exact re-rank equi-
    # join — zero NLJ anywhere
    "ann_ivfpq_topk": (0, {"embeddings": 2}),
    # round-6: rank skeleton pinned via localCheckpoint (no parquet
    # scan downstream); the one NLJ is the unconditioned broadcast join
    # over the <=64-row bucket subtotal table that composes carry-in
    # rank offsets AND the global total (operators/prefix.py)
    "ml_recon_mse_threshold": (1, {}),
    # late-r6: rank association + bivariate screen — daily-frame
    # windows/joins only, 3-col pruned events scans, zero NLJ
    "spearman_daily_corr": (0, {"events": 3}),
    "kendall_tau_daily": (0, {"events": 3}),
    "mahalanobis_outliers": (0, {"events": 3}),
    # late-r6 reshape pair: unpivot is shuffle-free past its daily agg
    # (zero joins); gap-fill's one NLJ is the intentional |channels| x
    # |days| broadcast spine cross, and the fill join broadcasts the
    # post-agg daily table (BroadcastHashJoin, never a spine shuffle)
    "unpivot_daily_metrics": (0, {"events": 3}),
    "calendar_gap_fill": (1, {"events": 3}),
    # CDC merge: feed compaction broadcast-joins the per-key deltas,
    # snapshot-vs-changes is the one fact-keyed full-outer SMJ — the
    # canonical lakehouse merge shape; 4-col pruned scans, zero NLJ
    "cdc_upsert_merge": (0, {"events": 4}),
    # map-function family: two key-partitioned aggs, 2-col scan
    "map_functions_user_profile": (0, {"events": 2}),
    # data-quality gate: one pass, one scalar metrics reduction
    "dq_expectation_checks": (0, {"events": 4}),
    # hashing trick: explode + bounded-width (<=1024 bucket) agg
    "feature_hashing_docs": (0, {"documents": 2}),
    # interval union: user-partitioned windows + two key aggs only
    "interval_union_coverage": (0, {"events": 3}),
    # id skeleton pinned via localCheckpoint (no parquet scans); the
    # four NLJ are the prefix scan's intentional bounded broadcasts
    # (1-row bounds join x2 consumers + the <=64-row triangular carry)
    "sequence_gap_detection": (4, {}),
    # 200-row pinned slice, brand equi-joined to itself — no scans,
    # no NLJ (the < predicate rides the hash join as a filter)
    "levenshtein_parity_pairs": (0, {}),
    # round-7 additions. The injected-quantizer ADC pin is pure Arrow
    # kernels + (cell) equi-join; SCD2 is three user-keyed windows;
    # CC's edge list is pinned via localCheckpoint (no parquet scans
    # downstream); the salted join is a ShuffledHashJoin on
    # (key, salt) — never NLJ. The det-math queries' NLJ allowances
    # are all intentional bounded broadcasts over <=10-row post-agg
    # frames (global-total scalars and the 10-bucket / 5-type spine).
    "ivfpq_exact_quantized": (0, {"embeddings": 2}),
    "cdc_scd2_history": (0, {"events": 5}),
    "connected_components_copurchase": (0, {}),
    "salted_skew_join": (0, {"events": 4}),
    "psi_value_drift": (3, {"events": 2}),
    "kl_divergence_daily": (2, {"events": 2}),
    "entropy_user_types": (0, {"events": 2}),
    "softmax_temperature_mixing": (1, {"documents": 2}),
    "tfidf_det_topk": (1, {"documents": 2}),
    # later-r7: the PIT lookup is the join-FREE as-of form (one
    # user-keyed window over the unioned timeline); bm25's one NLJ is
    # the 1-row corpus-stats broadcast shared with the rational tier
    "scd2_point_in_time_join": (0, {"events": 5}),
    "bm25_det_topk": (1, {"documents": 2}),
    # ER e2e: variant equi-join blocking + CC (checkpointed leaves) —
    # zero NLJ, 2-col customer scan
    "entity_resolution_e2e": (0, {"customer": 2}),
    # md5-surrogate tiers: winnowing is pure map-side HOFs; the
    # cluster composition's CC leaves are checkpointed (doc scan is
    # the singleton passthrough only)
    "winnow_fingerprint_md5": (0, {"documents": 2}),
    "near_dup_clusters_md5": (0, {"documents": 1}),
    # two-phase star contraction: all leaves checkpointed, zero NLJ
    "cc_twophase_copurchase": (0, {}),
    # three bounded broadcasts over the 35-cell grid (n scalar join x2
    # consumers + the chi2 total scalar)
    "cramers_v_type_dow": (3, {"events": 2}),
    # round-8 additions: day-grain decomposition (the one NLJ is the
    # one-row global-mean scalar broadcast); bucket-prefiltered join
    # (broadcast semi + broadcast equi, zero NLJ); single-scan
    # partial-agg checksum
    "seasonal_decompose_daily": (1, {"events": 2}),
    "runtime_filter_semi_join": (0, {"orders": 3, "customer": 3}),
    "table_fingerprint_checksum": (0, {"lineitem": 7}),
    # eval family: grid-sized sweep (the one NLJ is the threshold-spine
    # x 24-cell-grid broadcast); hitrate's two NLJs are the SAME
    # one-row split-day scalar broadcast, replayed in the train and
    # test branches
    "threshold_sweep_pr": (1, {"events": 3}),
    "markov_next_event_hitrate": (2, {"events": 4}),
    # one scan feeds the replicate agg (3 cols), the point-estimate
    # branch prunes to 2 — zero NLJ, zero randomness
    "poisson_bootstrap_ci": (0, {"events": 3}),
    # the one NLJ is the one-row corpus-totals scalar broadcast
    "keyness_g2_en_vs_rest": (1, {"documents": 2}),
    # grid-sized rank-sum: one (score) agg, cumulative on <=12 rows
    "roc_auc_exact": (0, {"events": 3}),
    # peel loop runs during construction; final plan reads the
    # checkpointed core edge set, no parquet scan survives
    "kcore_repeat_copurchase": (0, {}),
    # the one NLJ is the one-row (N, ece numerator) scalar broadcast
    "calibration_ece_bins": (1, {"events": 3}),
    # the one NLJ is the one-row (T, V) corpus-totals scalar broadcast
    "doc_lm_cross_entropy": (1, {"documents": 2}),
    # round-9 additions: the adaptive CC router's label-prop branch
    # converges (checkpointed leaves, no parquet scans survive); the
    # v2 pipeline shares e2e's shape — prefix-sum skeleton pinned, one
    # intentional triangular-carry NLJ (the LM stage's one-row totals
    # broadcast executes pre-pin and never reaches the final plan)
    "cc_auto_copurchase": (0, {}),
    "curation_pipeline_v2": (1, {}),
    # round-9 eval/stats family. Wasserstein: chained prefix sums are
    # pinned (see wasserstein_from_counts) so the final plan is the
    # last prefix level's intentional bounded broadcasts only; the
    # others' NLJ are one-row scalar broadcasts (totals/threshold/
    # coverage) plus retrieval's all-pairs verification-tier join and
    # its 10-row position spine.
    "wasserstein_value_drift": (3, {}),
    "woe_iv_event_types": (3, {"events": 2}),
    "conformal_split_threshold": (5, {"events": 4}),
    "retrieval_eval_metrics": (3, {"embeddings": 3}),
    # zipf: TakeOrdered head + the one-row corpus-totals broadcast;
    # source drift: count grid pinned, prefix-sum bounded broadcasts;
    # k-anonymity: two chained aggs, zero joins
    "zipf_slope_fit": (1, {"documents": 1}),
    "source_length_drift": (2, {}),
    "k_anonymity_audit": (0, {"events": 2}),
    # cooccurrence/kfold: one-row totals broadcasts; stump: grid-
    # scalar argmin broadcasts; ransac: candidates x day-grain base is
    # THE algorithm (28-row candidate broadcast against the pinned day
    # table, twice) + one-row best/mean/sums scalars
    # r12: basket aggregate pinned (localCheckpoint) — the final plan
    # reads the checkpointed basket frame, not parquet; the 2-col
    # lineitem pruning is guarded on the pre-checkpoint builder in
    # test_cooccurrence_basket_stage_prunes_lineitem_scan
    "item_cooccurrence_similarity": (1, {}),
    "decision_stump_split": (4, {"events": 3}),
    "group_kfold_balance": (1, {"events": 2}),
    "ransac_trend_daily": (10, {}),
    # attribution: one user-keyed equi-join, window predicate rides it;
    # ab test: one user agg + scalar math; monitoring e2e: score frame
    # pinned, the NLJ is the prefix scan's triangular carry
    "attribution_models": (0, {"events": 5}),
    "ab_test_proportions": (0, {"events": 3}),
    "anomaly_monitoring_e2e": (1, {}),
    # KM: r12 removed the km_x materialization pin (det_exp_col binds
    # its input once, so the codegen-size blowup the pin guarded
    # against is structurally impossible) — the final plan now shows
    # the last prefix level's bounded triangular-carry NLJ that the
    # pin used to hide (same class as anomaly_monitoring_e2e above)
    "kaplan_meier_conversion": (1, {}),
    # pareto: grid pinned; the NLJ are the one unpinned prefix level's
    # bounded broadcasts + the one-row totals join
    "pareto_revenue_deciles": (5, {}),
    # round-10 additions: kernel twins share the pretrained-ensemble
    # MLlib prefix (events-only scans); neardup replay is one
    # band-key shuffle over a 2-col documents scan; decontam is the
    # cross-set gram/fingerprint pipeline — joins are equi (BHJ/SMJ),
    # zero NLJ
    # the kernel-twin NLJ are the MLlib feature prefix's width_bucket
    # joins against broadcast ONE-ROW (_lo,_hi) bound aggregates
    # (ml/features.py) — bounded scalar broadcasts, never data-scale
    "ml_kernel_base_pretrained": (2, {"events": 6}),
    "ml_kernel_iforest_pretrained": (3, {"events": 6}),
    "ml_kernel_lof_pretrained": (3, {"events": 6}),
    "ml_kernel_ae_pretrained": (3, {"events": 6}),
    # neardup replay pins the sig stage (localCheckpoint) so the final
    # plan reads the checkpointed intermediate, not parquet
    "stream_neardup_replay": (0, {}),
    # round-11: decontam pins the exploded gram frame (localCheckpoint,
    # one explode shared by hot-gram agg / fingerprint window / both
    # alignment sides — the r10 plan recomputed it 4x) so the final
    # plan reads checkpointed intermediates, not parquet; the explode's
    # own 2-col pruned documents scan is exercised when the checkpoint
    # job runs inside the operator
    "decontam_shared_span": (0, {}),
    # the gate is one stateless Arrow stage over a 2-col scan — the
    # benchmark set rides inside the closure, so there is no join at all
    "stream_decontam_replay": (0, {"documents": 2}),
    # round-11 kernel-math surrogates: one pruned embeddings scan into
    # one broadcast-model Arrow kernel, no joins (the LOF slice derives
    # its query positions from vec_id alone -> 1-col scan)
    "ml_kernel_iforest_exact": (0, {"embeddings": 2}),
    "ml_kernel_lof_exact": (0, {"embeddings": 1}),
    "ml_kernel_pca_exact": (0, {"embeddings": 2}),
    # round-12 BPE surrogates: injected constant tables, no parquet
    # anywhere; the merge loop's per-round 1-row broadcasts live
    # behind eager checkpoints so the final merge frame is a pure
    # union of LogicalRDD leaves (0 joins), and the serving join is
    # one broadcast hash join of docs x segmented vocab
    "bpe_merges_exact": (0, {}),
    "bpe_tokenize_exact": (0, {}),
}


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    # other test modules cache tables on the shared session; a cached
    # relation plans as InMemoryTableScan and hides the parquet scan
    # this module asserts on
    spark.catalog.clearCache()
    # the pretrained twins cache their CONSTRUCTED plan per session
    # (queries/common.py _PRETRAINED_PLANS); a plan built while another
    # module's cached tables were live plans differently than the fresh
    # driver/bench construction this module asserts on — drop it
    from financial_anomaly_detection_spark.queries.common import (
        _PRETRAINED_PLANS,
    )

    _PRETRAINED_PLANS.clear()
    yield


def _plan(spark, name, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _scan_cols(plan: str) -> dict[str, int]:
    scans: dict[str, int] = {}
    for block in re.split(r"\n\s*\n", plan):
        if "Scan parquet" not in block:
            continue
        tm = re.search(r"[/\\](\w+)\.parquet", block)
        sm = re.search(r"ReadSchema: struct<([^>]*)>", block)
        if tm and sm:
            t, s = tm.group(1), sm.group(1)
            nc = 0 if not s.strip() else s.count(",") + 1
            scans[t] = max(scans.get(t, 0), nc)
    return scans


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_no_unplanned_nested_loop_join(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    # "(id) NodeName" detail headers count each physical node exactly once
    nlj = len(re.findall(r"\(\d+\) (?:BroadcastNestedLoopJoin|CartesianProduct)", plan))
    allowed = EXPECTED[name][0]
    assert nlj <= allowed, (
        f"{name}: {nlj} nested-loop/cartesian joins (allowed {allowed})"
    )


# Queries whose plans must contain NO full-data single-partition
# funnel: the sequence-packing prefix sum was a global Window.orderBy
# (every row through ONE task) until round 4; the two-pass parallel
# form (operators/prefix.py) must not regress. Scalar-aggregate
# reductions (partial agg per partition -> one row per partition
# through the exchange, e.g. the prefix operators' min/max bounds) are
# the benign global-scalar pattern and are allowed — the detector in
# plans/inspect.py classifies each Exchange SinglePartition by its
# child. (The earlier guard grepped FORMATTED explain output for
# "Exchange SinglePartition", a string that mode never emits — the
# assertion was vacuous; inspect.py greps the SIMPLE mode, where the
# node prints inline, and the test below is pinned against a real
# global-window plan in tests/test_prefix.py.)
NO_SINGLE_PARTITION = [
    "pack_sequences_2048",
    "curation_pipeline_e2e",
    "curation_pipeline_v2",
    # round-5b sweep line: the global running concurrency sum must run
    # on the two-pass prefix scan, not a global window
    "max_concurrent_sessions",
    # round-6: the top-5% anomaly flag's global rank was a global
    # Window.orderBy until r6 (the r5 VERDICT's one weak tier); it must
    # stay on ordered_rank_desc's two-pass scan
    "ml_recon_mse_threshold",
]


@pytest.mark.parametrize("name", NO_SINGLE_PARTITION)
def test_no_single_partition_exchange(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    bad = single_partition_violations(df)
    assert not bad, (
        f"{name}: full-data single-partition funnel(s) {bad} — the "
        "global prefix scan must stay two-pass parallel"
    )


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_scans_stay_column_pruned(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    scans = _scan_cols(plan)
    if not EXPECTED[name][1]:
        # plan reads a pinned (checkpointed) intermediate, not parquet
        assert not scans, f"{name}: unexpected parquet scans {scans}"
        return
    assert scans, f"{name}: no parquet scans found in plan"
    for table, ncols in scans.items():
        allowed = EXPECTED[name][1].get(table)
        assert allowed is not None, f"{name}: unexpected scan of {table}"
        assert ncols <= allowed, (
            f"{name}: scan of {table} reads {ncols} cols (pruned max {allowed})"
        )


# --- repo-wide global-window source guard ---------------------------------
#
# ``Window.orderBy(...)`` with no ``partitionBy`` funnels every row
# through one task (Exchange SinglePartition). The ONLY legitimate use
# left is ranking a bounded frame; everything unbounded must go
# through operators/prefix.py's two-pass parallel scan. Each allowed
# occurrence is (path suffix, regex the matching line must satisfy).
_GLOBAL_WINDOW_ALLOWLIST = [
    # rrf_fusion_topk ranks lists already cut to top-100 by
    # TakeOrdered — the bounded-list RRF contract (see its docstring)
    ("queries/ml_eval.py", r'F\.col\("qcos"\)\.desc\(\), "doc_id"'),
    ("queries/ml_eval.py", r'Window\.orderBy\("dist", "doc_id"\)'),
    # seasonal_decompose_daily's centered moving average runs on the
    # DAY-grain frame — bounded by the calendar (a century is ~36k
    # rows), aggregated BEFORE the window; the benign tiny-spine
    # pattern its docstring documents
    ("queries/ml_eval.py", r'Window\.orderBy\("day"\)\.rangeBetween\(-3, 3\)'),
    # roc_auc_exact's cumulative runs on the score grid — bounded at
    # <=12 rows by the integer score's construction, aggregated
    # BEFORE the window (conformal_split_threshold shares the form)
    ("queries/ml_eval.py", r'Window\.orderBy\("score"\)\.rowsBetween'),
    # zipf_slope_fit ranks a frame already cut to 100 rows by
    # TakeOrdered (orderBy+limit) — the bounded-list pattern rrf uses
    ("queries/text_curation.py", r'Window\.orderBy\(F\.col\("f"\)\.desc\(\), "word"\)'),
]


def test_no_unpartitioned_windows_in_source():
    violations = []
    for path in sorted(_SRC_ROOT.rglob("*.py")):
        for lineno, line in enumerate(
            path.read_text().splitlines(), start=1
        ):
            if "Window.orderBy" not in line:
                continue
            # prose mentions (docstrings describing the anti-pattern)
            # are backtick-quoted; code is not
            if "``" in line:
                continue
            allowed = any(
                str(path).endswith(suffix) and re.search(rx, line)
                for suffix, rx in _GLOBAL_WINDOW_ALLOWLIST
            )
            if not allowed:
                violations.append(f"{path}:{lineno}: {line.strip()}")
    assert not violations, (
        "global Window.orderBy without partitionBy (single-partition "
        "exchange at scale) — use operators/prefix.py instead:\n"
        + "\n".join(violations)
    )


# --- pre-checkpoint pruning + cached-plan pin guards (round 12) -----------


def test_decontam_explode_stage_prunes_documents_scan(spark, sf_dir):
    """decontam_shared_span's FINAL plan hides its parquet scans behind
    the round-11 localCheckpoint (LogicalRDD leaves), so the {} scan
    expectation above cannot catch a pruning regression in the explode
    stage — the one stage that actually reads parquet. Assert the
    2-col documents pruning on the pre-checkpoint builder directly."""
    from pyspark.sql import functions as F

    from financial_anomaly_detection_spark.operators.dedup import (
        _exploded_grams,
    )
    from financial_anomaly_detection_spark.queries.common import load_table

    docs = load_table(spark, sf_dir, "documents")
    e = _exploded_grams(
        docs, bench_pred=(F.col("doc_id") % 50 == 0), id_col="doc_id",
        text_col="text", n=8,
    )
    plan = e._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = _scan_cols(plan)
    assert scans.get("documents") == 2, (
        f"explode stage must read exactly (doc_id, text): {scans}"
    )


def test_cooccurrence_basket_stage_prunes_lineitem_scan(spark, sf_dir):
    """item_cooccurrence_similarity's FINAL plan hides its one lineitem
    scan behind the r12 basket localCheckpoint, so the {} expectation
    above cannot catch a pruning regression in the basket aggregate —
    the one stage that reads parquet. Assert 2-col pruning on the
    pre-checkpoint builder directly."""
    from financial_anomaly_detection_spark.queries.common import load_table
    from financial_anomaly_detection_spark.queries.dedup_similarity import (
        _cooccurrence_baskets,
    )

    li = load_table(spark, sf_dir, "lineitem")
    plan = _cooccurrence_baskets(li)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = _scan_cols(plan)
    assert scans.get("lineitem") == 2, (
        f"basket stage must read exactly (l_orderkey, l_partkey): {scans}"
    )


def test_prefix_filter_shingle_stage_prunes_documents_scan(spark, sf_dir):
    """jaccard_pairs_prefix_filter's FINAL plan hides its documents
    scan behind the r13 shingle-array localCheckpoint (the frame has
    three consumers), so the {} expectation above cannot catch a
    pruning regression in the shingle builder — the one stage that
    reads parquet. Assert 2-col pruning on the pre-checkpoint builder
    directly."""
    from financial_anomaly_detection_spark.operators.dedup import (
        _shingle_arrays,
    )
    from financial_anomaly_detection_spark.queries.common import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _shingle_arrays(
        docs, "doc_id", "text", 3
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = _scan_cols(plan)
    assert scans.get("documents") == 2, (
        f"shingle stage must read exactly (doc_id, text): {scans}"
    )


def test_quantile_knot_stage_prunes_events_scan(spark, sf_dir):
    """quantile_sketch_values' FINAL plan hides its events scan behind
    the r12 knots localCheckpoint (quantile_sketch_estimates pins the
    knots so the Arrow summarize stage runs once, not once per
    consumer), so the {} expectation above cannot catch a pruning
    regression in the knot builder — the one stage that reads parquet.
    Assert 2-col pruning on the pre-checkpoint builder directly."""
    from pyspark.sql import functions as F

    from financial_anomaly_detection_spark.operators.sketches import (
        quantile_sketch_knots,
    )
    from financial_anomaly_detection_spark.queries.common import load_table

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    knots = quantile_sketch_knots(cents, "cents", "event_id")
    plan = knots._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = _scan_cols(plan)
    assert scans.get("events") == 2, (
        f"knot stage must read exactly (event_id, value): {scans}"
    )


# --- InferFiltersFromGenerate exclusion guard (round 13) ------------------
#
# session.py excludes InferFiltersFromGenerate globally: the inferred
# Filter(size(arr) > 0) is redundant for outer=false explode and
# double-evaluated every gram/shingle array below the spread exchange
# (measured 10x on the shingle explode, r12). The exclusion is safe
# ONLY while no registered query relies on that inference for SCAN
# pruning — i.e. while every generator input is a DERIVED expression
# (split/transform/sequence over scalar columns), never a stored
# parquet array whose inferred isnotnull/size predicate could have
# pushed into the scan. This guard machine-checks the invariant on
# generate-carrying representatives of every family that reads
# parquet: re-enabling the rule must not change any scan's
# PushedFilters or ReadSchema. Each representative must still carry
# both a Generate node and a parquet scan, or the check is vacuous.


def _registered(name):
    return lambda spark, sf_dir: REGISTRY[name].fn(spark, sf_dir)


def _prefix_filter_shingle_explode(spark, sf_dir):
    """jaccard_pairs_prefix_filter's shingle explode on the
    pre-checkpoint builder: the query's final plan reads the r13
    shingle-array pin, not parquet."""
    from pyspark.sql import functions as F

    from financial_anomaly_detection_spark.operators.dedup import _shingle_arrays
    from financial_anomaly_detection_spark.queries.common import load_table

    arrs = _shingle_arrays(load_table(spark, sf_dir, "documents"), "doc_id", "text", 3)
    return arrs.select("_id", F.size("_arr").alias("_sz"), F.explode("_arr").alias("_sh"))


_GENERATE_REPRESENTATIVES = {
    "jaccard_pairs_prefix_filter": _prefix_filter_shingle_explode,  # shingle explode
    "duplicate_chunks_across_docs": _registered("duplicate_chunks_across_docs"),  # gram explode
    "feature_hashing_docs": _registered("feature_hashing_docs"),  # token explode
    "longest_dup_span_pairs": _registered("longest_dup_span_pairs"),  # positional grams
    "fuzzy_name_pairs_ed1": _registered("fuzzy_name_pairs_ed1"),  # deletion variants
    "explode_type_matrix": _registered("explode_type_matrix"),  # array explode over events
}


def _generate_plan(spark, name, sf_dir):
    df = _GENERATE_REPRESENTATIVES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _scan_pushdown_facts(plan: str) -> list[tuple[str, str]]:
    facts = []
    for block in re.split(r"\n\s*\n", plan):
        if "Scan parquet" not in block:
            continue
        tm = re.search(r"[/\\](\w+)\.parquet", block)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        rs = re.search(r"ReadSchema: struct<([^>]*)>", block)
        facts.append((
            tm.group(1) if tm else "?",
            f"pushed=[{pf.group(1) if pf else ''}] "
            f"read=<{rs.group(1) if rs else ''}>",
        ))
    return sorted(facts)


def test_generate_filter_inference_not_needed_for_scan_pruning(spark, sf_dir):
    from financial_anomaly_detection_spark.session import RUNTIME_CONFS

    excluded_plans = {}
    for name in _GENERATE_REPRESENTATIVES:
        plan = _generate_plan(spark, name, sf_dir)
        assert "Generate" in plan, (
            f"{name} no longer carries a Generate node — replace it in "
            "_GENERATE_REPRESENTATIVES to keep the family covered"
        )
        excluded_plans[name] = _scan_pushdown_facts(plan)
        assert excluded_plans[name], (
            f"{name} no longer reads parquet — point it at a pre-checkpoint "
            "builder in _GENERATE_REPRESENTATIVES to keep the family covered"
        )
    key = "spark.sql.optimizer.excludedRules"
    try:
        spark.conf.set(key, "")
        for name in _GENERATE_REPRESENTATIVES:
            with_rule = _scan_pushdown_facts(_generate_plan(spark, name, sf_dir))
            assert with_rule == excluded_plans[name], (
                f"{name}: scan pushdown differs with InferFiltersFromGenerate "
                f"re-enabled — a generator input has become scan-prunable and "
                f"the global exclusion in session.py now costs pruning.\n"
                f"with rule: {with_rule}\nexcluded:  {excluded_plans[name]}"
            )
    finally:
        spark.conf.set(key, RUNTIME_CONFS[key])


def test_pretrained_plan_cache_rejects_checkpoint_leaves(spark, sf_dir):
    """bench.release_pins unpersists every persistent RDD between sweep
    entries; a cached twin plan rooted in a localCheckpoint would lose
    its (lineage-truncated) blocks and fail mid-sweep. The cache must
    refuse such plans at build time — and accept checkpoint-free ones."""
    from financial_anomaly_detection_spark.queries.common import (
        _PRETRAINED_PLANS,
        _pretrained_plan,
        load_table,
    )

    clean = _pretrained_plan(
        spark, sf_dir, "guard_clean",
        lambda: load_table(spark, sf_dir, "region"),
    )
    assert clean.count() > 0
    assert any(k[2] == "guard_clean" for k in _PRETRAINED_PLANS)

    with pytest.raises(AssertionError, match="LogicalRDD"):
        _pretrained_plan(
            spark, sf_dir, "guard_pinned",
            lambda: load_table(spark, sf_dir, "region").localCheckpoint(
                eager=True
            ),
        )
    assert not any(k[2] == "guard_pinned" for k in _PRETRAINED_PLANS)
