"""The session tier of ``memo()``: shared frames build ONCE per (session,
corpus) and their consumers produce bit-identical values through it.

Value identity is the load-bearing assertion: each memoized query is
compared row-for-row against a cold rebuild in the same session (memo
forgotten), so the memo provably removes recompute without moving a
value.  ``memo.COUNTS`` pins the sharing itself.
"""

from __future__ import annotations

import os

import pytest

from spatial_data_engineering_spark import memo

from .conftest import SF_ORACLE

_DOCS = os.path.join(SF_ORACLE, "documents.parquet")


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _query(name):
    from spatial_data_engineering_spark.queries_registry import _modules

    return next(m.QUERIES[name] for m in _modules() if name in m.QUERIES)


def _cold_events(tag):
    return memo.COUNTS[tag]["builds"] + memo.COUNTS[tag]["disk_hits"]


@pytest.fixture()
def clear_memos(spark):
    memo.forget(spark)
    yield
    memo.forget(spark)


def _build_once_then_identical(spark, tag, consumers):
    n0 = _cold_events(tag)
    first = [_rows(_query(q)(spark, SF_ORACLE)) for q in consumers]
    assert _cold_events(tag) - n0 == 1, \
        f"{' + '.join(consumers)} must share ONE {tag} build"
    memo.forget(spark, tag)  # cold rebuild in the same session
    assert [_rows(_query(q)(spark, SF_ORACLE)) for q in consumers] == first


def test_minhash_frames_build_once_for_q47_and_q156(spark, clear_memos):
    _build_once_then_identical(spark, "minhash_frames",
                               ["q47_minhash_lsh",
                                "q156_minhash_estimate_audit"])


def test_simhash_sig_builds_once_for_q48_q167(spark, clear_memos):
    _build_once_then_identical(spark, "simhash16",
                               ["q48_simhash", "q167_dedup_strategy_venn"])


def test_q153_sig_memo_value_identity(spark, clear_memos):
    q153 = _query("q153_simhash_hamming_join")
    a1 = _rows(q153(spark, SF_ORACLE))
    a1b = _rows(q153(spark, SF_ORACLE))
    memo.forget(spark, "simhash64")
    assert a1 == a1b == _rows(q153(spark, SF_ORACLE))


def test_curation_stages_build_once_for_q212_q213(spark, clear_memos):
    _build_once_then_identical(spark, "curation_stages",
                               ["q213_curation_funnel",
                                "q212_curation_shards"])


def test_semdedup_assign_builds_once_for_q148_q201(spark, clear_memos):
    _build_once_then_identical(spark, "semdedup_assign",
                               ["q148_semdedup", "q201_cluster_label_purity"])


def test_cov_moments_build_once_for_q93_and_q191(spark, clear_memos):
    _build_once_then_identical(spark, "cov_moments",
                               ["q93_embedding_covariance",
                                "q191_dim_redundancy"])


@pytest.mark.parametrize("tag,consumers", [
    ("mmr_cand", ["q110_mmr_diversify", "q220_mmr_audit"]),
    ("neardup_components", ["q56_dedup_components", "q94_dedup_canonical"]),
    ("edges_q109", ["q109_triangle_count", "q115_bfs_hops"]),
    ("kmeans_fit", ["q55_kmeans", "q219_kmeans_audit",
                    "q223_cluster_silhouette"]),
    ("pq_codebooks", ["q111_pq_adc_topk", "q218_pq_recall_audit"]),
    ("spans", ["q224_exact_substring_dedup",
               "q225_substring_dedup_materialize"]),
])
def test_shared_memo_builds_once(spark, clear_memos, tag, consumers):
    _build_once_then_identical(spark, tag, consumers)


def test_memo_falls_back_uncached_for_virtual_sources(spark):
    """A source that cannot be statted builds fresh on every call —
    never a stale hit, never a crash."""
    calls = []
    for _ in range(2):
        out = memo.memo(spark, "t", ["/nonexistent/sfdir/documents.parquet"],
                        lambda: calls.append(1) or "frame")
        assert out == "frame"
    assert len(calls) == 2


def test_concurrent_cold_callers_build_exactly_once(spark):
    """Two concurrent cold callers of the SAME key produce exactly ONE
    build: the second blocks on the key's lock and reads the winner's
    entry (a loser's eagerly-checkpointed frames would leak executor
    storage)."""
    import threading
    import time

    memo.forget(spark, "race_tag")
    n0 = memo.COUNTS["race_tag"]["builds"]
    builds, results, errs = [], [], []
    gate = threading.Barrier(2)

    def build():
        builds.append(threading.get_ident())
        time.sleep(0.3)  # widen the race window: a loser WOULD overlap
        return "frame"

    def call():
        try:
            gate.wait()
            results.append(memo.memo(spark, "race_tag", [_DOCS], build))
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(exc)

    ts = [threading.Thread(target=call) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
    assert not errs, errs
    assert results == ["frame", "frame"]
    assert len(builds) == 1, "exactly one cold build may run per key"
    assert memo.COUNTS["race_tag"]["builds"] - n0 == 1
    assert memo.COUNTS["race_tag"]["hits"] >= 1
    memo.forget(spark, "race_tag")


def test_memo_stress_many_threads_build_each_key_once(spark):
    """More threads than cores, a shortened switch interval: every key
    builds once, and every other call is counted as a hit."""
    import sys
    import threading

    tags = [f"stress_{i}" for i in range(4)]
    memo.forget(spark, *tags)
    before = {t: dict(memo.COUNTS[t]) for t in tags}
    n_threads, rounds = 16, 50
    errs = []

    def call(i):
        try:
            for r in range(rounds):
                tag = tags[(i + r) % len(tags)]
                assert memo.memo(spark, tag, [_DOCS], lambda: tag) == tag
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=call, args=(i,))
              for i in range(n_threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts) and not errs, errs
    for t in tags:
        got = {k: memo.COUNTS[t][k] - before[t].get(k, 0)
               for k in ("builds", "hits")}
        assert got == {"builds": 1,
                       "hits": n_threads * rounds // len(tags) - 1}
    memo.forget(spark, *tags)


def test_memo_reentrant_for_dependent_tags(spark):
    """A build() that re-enters the memo for ANOTHER tag (the
    curation_stages -> near_dup_pairs -> minhash_frames shape) must not
    deadlock on the per-key locks."""
    memo.forget(spark, "dag_inner", "dag_outer")

    def outer_build():
        return memo.memo(spark, "dag_inner", [_DOCS],
                         lambda: "inner") + "+outer"

    assert memo.memo(spark, "dag_outer", [_DOCS],
                     outer_build) == "inner+outer"
    memo.forget(spark, "dag_inner", "dag_outer")


def test_memo_key_folds_every_named_table(spark, tmp_path):
    """With two sources, changing EITHER one invalidates the key."""
    import shutil
    import time as _time

    srcs = []
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_ORACLE}/{t}.parquet", tmp_path / f"{t}.parquet")
        srcs.append(str(tmp_path / f"{t}.parquet"))
    calls = []

    memo.memo(spark, "two_tab", srcs, lambda: calls.append(1) or "v1")
    memo.memo(spark, "two_tab", srcs, lambda: calls.append(1) or "v2")
    assert len(calls) == 1  # hit on unchanged fingerprints

    # touch the SECOND table only; the key must change
    _time.sleep(0.01)
    (tmp_path / "embeddings.parquet").touch()
    out = memo.memo(spark, "two_tab", srcs, lambda: calls.append(1) or "v3")
    assert out == "v3" and len(calls) == 2
    memo.forget(spark, "two_tab")
