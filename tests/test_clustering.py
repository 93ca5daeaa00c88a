"""Behavioral contracts for the iterative operators (no SQL oracle —
convergence and closure properties are the spec)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_ORACLE, SF_SMOKE


def test_kmeans_inertia_monotone_and_partition(spark):
    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.clustering import kmeans_fit

    e = load(spark, SF_ORACLE, "embeddings")
    assignments, centroids, hist = kmeans_fit(spark, e, k=8, max_iter=5)

    # Lloyd's algorithm never increases inertia
    assert all(b <= a + 1e-6 for a, b in zip(hist, hist[1:])), hist
    # every vector assigned to exactly one cluster; all ids covered
    n = e.count()
    assert assignments.count() == n
    assert assignments.select("id").distinct().count() == n
    assert centroids.shape == (8, 64)
    # deterministic: second run identical
    a2, _, hist2 = kmeans_fit(spark, e, k=8, max_iter=5)
    assert hist2 == hist
    d1 = {r.id: r.cluster for r in assignments.collect()}
    d2 = {r.id: r.cluster for r in a2.collect()}
    assert d1 == d2


def test_connected_components_closure(spark):
    from spatial_data_engineering_spark.operators.clustering import (
        connected_components)

    # two chains + one isolate-pair: a~b~c, d~e, f~g~h~i
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["a", "b"])
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20


def test_dedup_components_vs_pairs(spark):
    from spatial_data_engineering_spark.operators.clustering import (
        q56_dedup_components)
    from spatial_data_engineering_spark.operators.dedup import q47_minhash_lsh

    pairs = q47_minhash_lsh(spark, SF_ORACLE).select("a_id", "b_id").collect()
    comps = q56_dedup_components(spark, SF_ORACLE).collect()

    # union-find reference closure computed driver-side
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.a_id), find(r.b_id)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict = {}
    for node in list(parent):
        sizes[find(node)] = sizes.get(find(node), 0) + 1

    got = {r.component: r.n_docs for r in comps}
    assert got == sizes and sum(sizes.values()) > 0


def test_near_dup_pairs_materialized_once(spark):
    """The q47->{q56,q86,curation} family must share ONE materialization
    of the LSH pair set per (session, corpus) — each graph consumer
    re-executing the shingle/band/verify DAG cold was the round-3
    perf finding (q86 first run 20-35s vs 4.7s warm)."""
    from spatial_data_engineering_spark import memo
    from spatial_data_engineering_spark.operators import dedup
    from spatial_data_engineering_spark.operators.clustering import (
        q56_dedup_components, q86_pagerank_centrality)

    memo.forget(spark, "pairs")
    before = memo.COUNTS["pairs"]["builds"]
    before_disk = memo.COUNTS["pairs"]["disk_hits"]

    first = dedup.near_dup_pairs(spark, SF_ORACLE)
    # the cached frame is materialized (checkpoint or parquet read-back):
    # consumers plan against rows, not the LSH DAG
    assert first.rdd.getNumPartitions() >= 1
    assert dedup.near_dup_pairs(spark, SF_ORACLE) is first

    n56 = q56_dedup_components(spark, SF_ORACLE).count()
    n86 = q86_pagerank_centrality(spark, SF_ORACLE).count()
    assert n56 > 0 and n86 > 0

    # exactly ONE expensive event for the whole consumer family: either a
    # cold LSH materialization or (round 6+) a disk read-back of the
    # persisted pair table from an earlier session
    assert (memo.COUNTS["pairs"]["builds"] - before) + (
        memo.COUNTS["pairs"]["disk_hits"] - before_disk) == 1


def test_embedding_covariance_matches_numpy(spark):
    """q93 vs an independent numpy.cov computation: the engine's
    decimal-exact moment formulation must agree with the textbook
    two-pass covariance to rounding tolerance (6 dp output + the
    1e-12-scale decimal truncation of the moment sums)."""
    import numpy as np

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.similarity import (
        q93_embedding_covariance)

    rows = load(spark, SF_ORACLE, "embeddings") \
        .select("vec_id", "embedding").collect()
    X = np.array([np.array(r["embedding"], dtype=np.float64)
                  for r in sorted(rows, key=lambda r: r["vec_id"])])
    C = np.cov(X, rowvar=False)

    got = {(r["i"], r["j"]): r["cov"]
           for r in q93_embedding_covariance(spark, SF_ORACLE).collect()}
    assert len(got) == 64 * 65 // 2
    err = max(abs(got[(i + 1, j + 1)] - C[i, j])
              for i in range(64) for j in range(i, 64))
    assert err < 1e-5, err
    # diagonal is the q83 variance view: strictly positive
    assert all(got[(d, d)] > 0 for d in range(1, 65))


def test_covariance_blas_explode_parity(spark):
    """The mapInPandas BLAS Gram production path and the codegen pair-
    explode twin must agree BIT-FOR-BIT after round(6): the only float64
    reassociation between them is the sequential within-partition BLAS
    accumulation (~1e-11 on sums whose covs round at 1e-6), and the
    cross-partition reduce is decimal-exact on both."""
    from spatial_data_engineering_spark.operators.similarity import (
        q93_covariance_explode_twin, q93_embedding_covariance)

    blas = {(r["i"], r["j"]): r["cov"]
            for r in q93_embedding_covariance(spark, SF_ORACLE).collect()}
    expl = {(r["i"], r["j"]): r["cov"]
            for r in q93_covariance_explode_twin(spark, SF_ORACLE).collect()}
    assert blas.keys() == expl.keys()
    assert len(blas) == 64 * 65 // 2
    diffs = [(k, blas[k], expl[k]) for k in blas
             if blas[k] != expl[k]]  # exact float equality, post-round
    assert not diffs, diffs[:5]


def test_dedup_canonical_consistent_with_components(spark):
    """q94's clusters must be exactly q56's, and the canonical member
    must be a true member with the cluster's max n_chars (smallest id on
    ties)."""
    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.clustering import (
        q56_dedup_components, q94_dedup_canonical)

    comp = {r["component"]: r["n_docs"]
            for r in q56_dedup_components(spark, SF_ORACLE).collect()}
    canon = q94_dedup_canonical(spark, SF_ORACLE).collect()
    assert {r["component"] for r in canon} == set(comp)
    chars = {r["doc_id"]: r["n_chars"]
             for r in load(spark, SF_ORACLE, "documents")
             .select("doc_id", "n_chars").collect()}
    for r in canon:
        assert r["n_members"] == comp[r["component"]]
        assert chars[r["canonical_id"]] == r["canonical_chars"]
