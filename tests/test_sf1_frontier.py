"""10x-scale frontier checks (VERDICT r10 task 4): the sf1 evidence
used to live only in scripts + BENCH_history artifacts; this marked test
makes the 10x path un-bit-rottable.  Deselected by default (pytest.ini
addopts) — run with `pytest -m sf1` (~2-3 min).

Asserts, against the committed testdata_sf1 tables:
- every scale-frontier query completes and returns a sane shape;
- the plan invariants that make them 100 TB-safe hold at 10x data just
  as they do at sf0.001 (no cartesian candidate generation, adaptive
  SemDeDup K actually adapts, the LSH verify join touches candidates
  only).
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.sf1

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, "testdata_sf1")

FRONTIER = [
    "q148_semdedup", "q51_srp_lsh_buckets", "q47_minhash_lsh",
    "q50_embedding_neardup", "q154_knn_label_accuracy", "q49_cosine_topk",
    "q193_heaps_law", "q209_source_scorecard", "q56_dedup_components",
    "q212_curation_shards",
    # r13 rotation (VERDICT r12 task 4): the two Spark-side-heavy rows
    # from the parity heavy tail (the rest of that tail is
    # DuckDB-oracle time — see scripts/sf1_frontier.py)
    "q168_dedup_cost_model", "q152_dup_cluster_sizes",
]


@pytest.fixture(scope="module", autouse=True)
def _need_sf1():
    if not os.path.isdir(SF1):
        pytest.skip("testdata_sf1 not generated (scripts/make_sf1.py)")


@pytest.mark.parametrize("name", FRONTIER)
def test_frontier_query_completes_at_sf1(spark, name):
    from spatial_data_engineering_spark.queries_registry import all_queries

    df = all_queries()[name](spark, SF1)
    # no cartesian candidate generation at 10x data — the LSH/dedup
    # plans must keep their derived-key equi-joins
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in ("q47_minhash_lsh", "q51_srp_lsh_buckets",
                "q56_dedup_components"):
        assert "CartesianProduct" not in plan, name
    n = df.count()
    assert n >= 0
    if name in ("q148_semdedup", "q201_cluster_label_purity"):
        # adaptive K at sf1: n ~ 2e4 nonzero vectors -> K ~ 141 clusters
        assert n > 100, f"{name}: adaptive K did not adapt (rows={n})"


# The oracled queries most exposed to at-scale-only divergence: every
# quality-score consumer (the round-11 halfway-rounding find), the
# percentile/quantile family (the lerp find), and the scale-frontier
# queries with oracles.  The full sf1 sweep is the `sf1` gate of
# scripts/gates.py; this marked subset keeps the evidence class
# un-bit-rottable in CI at ~1/6 the cost.
PARITY_SUBSET = [
    "q44_quality_score", "q80_quality_filter", "q127_score_calibration",
    "q145_curriculum_stages", "q163_score_auc",
    "q176_score_normalization", "q188_aa_test", "q199_dup_quality_link",
    "q209_source_scorecard", "q212_curation_shards",
    "q213_curation_funnel",
    "q33_percentiles", "q26_median", "q117_rolling_median",
    "q130_weighted_median", "q149_winsorized_stats",
    "q137_time_to_convert", "q138_session_stats",
    "q181_order_interarrival", "q203_quantization_error",
    "q206_ship_latency",
    "q47_minhash_lsh", "q51_srp_lsh_buckets", "q148_semdedup",
    "q193_heaps_law", "q56_dedup_components",
    "q214_url_domain_dedup", "q215_rate_limited_sample",
    "q216_dsir_importance", "q217_domain_quota_sample",
    # the r12 no-oracle-shrink family: the IVF-replay oracle and the
    # self-certifying / audit rows must hold at 10x data too
    "q28_approx_distinct", "q34_approx_quantiles", "q52_ivf_ann",
    "q218_pq_recall_audit", "q219_kmeans_audit", "q220_mmr_audit",
    # r13 addition — integer-comparison rules must hold at 10x data
    "q221_gopher_rules",
    # r13 no-oracle shrink — the full Lloyd replay must hold at 10x
    # (the oracle is linear in n: 8.2 s at sf1's 20k vectors)
    "q55_kmeans",
    # r13 no-oracle shrink — the full greedy-MMR sequence replay
    # (linear recall scan + K bounded rounds)
    "q110_mmr_diversify",
    # r14 no-oracle CLOSE — the full PQ replay (training bounded at
    # n_train rows; encode linear: n x m x k* fold-4 evals)
    "q111_pq_adc_topk",
    # r14 additions must hold at 10x data on arrival
    "q222_bigram_lm_buckets", "q223_cluster_silhouette",
    # r15 additions (ExactSubstr pair): the gram relation is the one
    # corpus-chars-sized intermediate in the suite — 10x data is where
    # a super-linearity in the count/join/island chain would show
    "q224_exact_substring_dedup", "q225_substring_dedup_materialize",
    # r16 additions: the band probe's broadcast asymmetry (delta bands
    # into the standing band table) and the frame-fingerprint inverted
    # index are exactly the shapes that only misbehave at scale
    "q226_incremental_near_dedup", "q227_audio_neardup",
]


@pytest.fixture(scope="module")
def duck_sf1():
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(SF1, f"{t}.parquet")
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", PARITY_SUBSET)
def test_oracle_parity_at_sf1(spark, duck_sf1, name):
    import __spark_entry__ as entrymod

    from .parity import compare

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    compare(qs[name](spark, SF1), duck_sf1.sql(osql[name]).df(),
            name=name)


# The four quadratic-ORACLE queries get deterministic subset strategies
# (VERDICT r11 task 2) instead of a skip — definitions live in
# scripts/gates.py so the per-round sweep and this gate can never
# drift apart.  q49 runs whole (its oracle is 10 queries x n — linear);
# q50 verifies the FULL-corpus Spark output on a stratified pair slice;
# q154/q156 run both engines on a stratified corpus slice sized above
# sf0.1.
def _sf1_parity_mod():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gates", os.path.join(REPO, "scripts", "gates.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", [
    "q49_cosine_topk", "q50_embedding_neardup",
    "q154_knn_label_accuracy", "q156_minhash_estimate_audit"])
def test_quadratic_oracle_subset_parity_at_sf1(spark, name):
    import __spark_entry__ as entrymod

    from .parity import compare

    mod = _sf1_parity_mod()
    strat = mod.SUBSET[name]
    qs, osql = entrymod.queries(), entrymod.oracle_sql()

    # the SAME view construction as the sweep (shared helper — the glob
    # and WHERE injection cannot drift between gate and sweep)
    con = (mod.duckdb_connection_sf1(SF1)
           if strat["mode"] == "full"
           else mod.duckdb_connection_sf1(SF1, strat["table"],
                                          strat["pred"]))
    if strat["mode"] == "full":
        df = qs[name](spark, SF1)
    elif strat["mode"] == "output-slice":
        df = qs[name](spark, SF1).filter(strat["post"])
    else:
        sdir = mod.materialize_slice(SF1, strat["table"], strat["pred"])
        df = qs[name](spark, sdir)
    compare(df, con.sql(osql[name]).df(), name=name)


def test_semdedup_k_adapts_at_sf1(spark):
    import pyspark.sql.functions as F

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators import similarity as S

    e = load(spark, SF1, "embeddings")
    n = (e.select(F.expr(S._norm_spark("embedding")).alias("nrm"))
         .filter(F.col("nrm") > 0).count())
    k = S._semdedup_k(n)
    assert k > S._SEMDEDUP_K, (n, k)
    assert k < S._SEMDEDUP_TWO_LEVEL_K  # sf1 stays on the exact path
