"""Driver-window rule.

The driver's correctness harness verifies the FIRST 50 entries of
``__spark_entry__.queries()`` in iteration order.  The order is not a
hand-kept list: ``queries_registry.window_order`` derives it from the
committed ``CORRECTNESS_r{N}.json`` files.  Names in ``FORCED`` (plan or
oracle changed since their last driver row) lead, never-driver-verified
queries follow in registration order, then every other query by the newest
round with a driver row for it, oldest first, ties by the row's position
in that round's file.  A new round's ``CORRECTNESS_r{N}.json`` rotates the
window with no code edit.

These tests assert the rule on synthetic evidence and its result on the
committed artifacts; no Spark session is needed.
"""

from __future__ import annotations

import pytest

from spatial_data_engineering_spark.queries_registry import (
    FORCED, all_queries, driver_evidence, window_order)


# The reviewed round-17 window (the full r12-verified remainder, q158
# first, then the oldest 13 r13-verified rows).  The rule must reproduce
# it from the evidence up to r16, and the driver's r17 rows are exactly it.
EXPECTED_WINDOW = [
    "q158_session_paths", "q159_bm25_topk", "q160_lang_mislabel",
    "q161_wilson_proportion", "q162_churn_rate",
    "q165_nation_trade_volume", "q166_market_share",
    "q168_dedup_cost_model", "q170_burst_detection",
    "q171_dup_degree_distribution", "q173_order_reconciliation",
    "q175_error_rate_timeline", "q177_weekday_seasonality",
    "q178_new_vs_returning", "q164_rfm_segments", "q174_value_gini",
    "q189_runs_test", "q193_heaps_law", "q22_cube", "q23_unpivot",
    "q24_in_subquery", "q25_window_analytics", "q26_median",
    "q27_first_limit", "q28_approx_distinct", "q34_approx_quantiles",
    "q137_time_to_convert", "q138_session_stats",
    "q127_score_calibration", "q149_winsorized_stats",
    "q80_quality_filter", "q163_score_auc", "q176_score_normalization",
    "q33_percentiles", "q181_order_interarrival",
    "q203_quantization_error", "q206_ship_latency",
    "q216_dsir_importance", "q217_domain_quota_sample", "q220_mmr_audit",
    "q30_range_join", "q31_sliding_window", "q32_session_window",
    "q35_rank_functions", "q36_full_outer", "q37_array_agg",
    "q38_profile", "q39_local_supplier_revenue", "q63_date_functions",
    "q64_bag_set_ops",
]

# The r13-verified remainder in least-recently-verified order: it followed
# the round-17 window and leads the round-18 window, right after FORCED.
EXPECTED_R18_LEAD = [
    "q76_ngram_jaccard_join", "q77_pack_sequences", "q83_embedding_stats",
    "q84_sample_exact_k", "q85_twophase_topk", "q10_row_number",
    "q71_frame_sample", "q50_embedding_neardup", "q53_embedding_centroids",
    "q73_hash_split", "q78_balance_corpus", "q91_temperature_sample",
    "q113_cms_heavy_hitters", "q114_kmv_distinct",
]


def _upto(rnd):
    return {r: rows for r, rows in driver_evidence().items() if r <= rnd}

REGISTERED = ["a", "b", "c", "d", "e", "f"]
EVIDENCE = {
    3: ["a", "b", "c"],
    1: ["d", "e", "a"],
    2: ["f", "e"],
}


def test_forced_rows_lead():
    got = window_order(REGISTERED, EVIDENCE, ("c", "e"))
    assert got[:2] == ["c", "e"]
    assert sorted(got) == sorted(REGISTERED)


def test_never_verified_follows_forced():
    got = window_order(REGISTERED + ["new"], EVIDENCE, ("c",))
    assert got[:2] == ["c", "new"]


def test_rounds_run_oldest_first():
    # d: r1; f, e: r2 (e's r1 row is superseded); a, b, c: r3
    assert window_order(REGISTERED, EVIDENCE, ()) == [
        "d", "f", "e", "a", "b", "c"]


def test_file_order_breaks_ties():
    evidence = {1: ["c", "a", "b"]}
    assert window_order(["a", "b", "c"], evidence, ()) == ["c", "a", "b"]


def test_unregistered_forced_name_raises():
    with pytest.raises(ValueError, match="not registered"):
        window_order(REGISTERED, EVIDENCE, ("zz",))


def test_committed_artifacts_drive_the_window():
    names = list(all_queries())
    assert names[:len(FORCED)] == list(FORCED)
    evidence = driver_evidence()
    newest = {n: r for r in sorted(evidence) for n in evidence[r]}
    rounds = [newest.get(n, 0) for n in names[len(FORCED):]]
    assert rounds == sorted(rounds)
    # the r18 window, derived from the evidence up to r17: the remaining
    # r13 rows lead, q76 first
    upto_r17 = {r: rows for r, rows in evidence.items() if r <= 17}
    order = window_order(names, upto_r17, FORCED)
    assert order[len(FORCED)] == "q76_ngram_jaccard_join"


def test_driver_window_is_the_reviewed_round17_plan():
    names = list(all_queries())
    assert len(EXPECTED_WINDOW) == 50
    got = window_order(names, _upto(16), ())
    assert got[:50] == EXPECTED_WINDOW
    assert got[50:50 + len(EXPECTED_R18_LEAD)] == EXPECTED_R18_LEAD
    assert list(driver_evidence()[17]) == EXPECTED_WINDOW


def test_round18_queue_is_next():
    names = list(all_queries())
    lead = names[len(FORCED):len(FORCED) + len(EXPECTED_R18_LEAD)]
    assert lead == EXPECTED_R18_LEAD
    got = window_order(names, _upto(17), ())
    assert got[:len(EXPECTED_R18_LEAD)] == EXPECTED_R18_LEAD
