"""Iterative algorithms over DataFrames: distributed k-means and
connected-components (the BASELINE.json "iterative algorithms" class).

Both follow the canonical Spark iterative shape: a small driver loop over
fully-distributed steps, state carried in DataFrames/broadcasts, nothing
per-row on the driver.

Round 13: k-means stopped being "non-SQL-expressible".  Every step of
the shipped Lloyd configuration is deterministic AND order-independent —
init = first k vectors by id, assignment = argmin over fround6-rounded
squared distances (ties to the lowest cluster id), update = per-dim
decimal(30,10)-exact means, empty clusters keep their centroid, the
early stop fires only at an exact fixed point (where further iterations
are no-ops) — so the WHOLE fixed-iteration-count algorithm replays as a
chain of SQL CTEs and q55 carries a full DuckDB oracle (the q52
IVF-replay precedent).  Connected components (frontier loop with a
data-dependent iteration count) remains rows-only by nature.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..memo import memo
from ..queries_registry import registrar
from .common import np_nearest, sql_fround6

QUERIES, ORACLES, query = registrar()


# --------------------------------------------------------------------------
# Distributed Lloyd k-means over the embedding column.
#
# Assignment: broadcast centroid matrix, one common.np_nearest call per
# Arrow batch (mapInPandas) — no shuffle.  Update: per-(cluster, dim)
# partial sums via posexplode + groupBy — one small shuffle of k*dim
# partial aggregates per iteration.  Deterministic AND engine-replayable:
# init = first k corpus vectors, argmin over fround6-rounded fold d2 with
# ties to the lowest cluster id, decimal-exact means (see the module
# docstring / q55's oracle).  similarity.pq_train_codebooks is the other
# Lloyd loop: it runs on a bounded driver-side sample rather than over
# the distributed corpus, so the two share only the assignment kernel.
# --------------------------------------------------------------------------
def kmeans_fit_cached(spark: SparkSession, sf_dir: str):
    """Session-memoized ``kmeans_fit`` (k=8, max_iter=5) of sf_dir's
    embeddings.  q55, q219 and q223 consume the same deterministic fit
    (bit-identical by the contract test_clustering pins); re-training per
    query cost 3 x ~3.3 s at sf0.1.  The assignments frame is two ints
    per vector."""
    return memo(spark, "kmeans_fit", (f"{sf_dir}/embeddings.parquet",),
                lambda: kmeans_fit(spark, load(spark, sf_dir, "embeddings"),
                                   k=8, max_iter=5))


def kmeans_fit(spark: SparkSession, vectors: DataFrame, k: int = 8,
               max_iter: int = 5):
    """Lloyd k-means over ``vectors``' (vec_id, embedding) columns.
    Returns (assignments DataFrame [id, cluster], centroids ndarray,
    inertia history list)."""
    from pyspark import StorageLevel

    # Pin the (id, vec) projection for the loop: every iteration scans
    # it through mapInPandas, so without the persist each of the
    # max_iter+1 passes re-reads and re-decodes the source parquet
    # (measured at sf0.1: q55 8.8s -> 6.1s, identical output).  A
    # DERIVED frame is persisted — never the caller's, whose own cache
    # policy must not be clobbered — and unpersisted on every exit,
    # after the final assignment is checkpointed off it.
    v = vectors.select("vec_id", "embedding").persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        return _kmeans_loop(spark, v, k, max_iter)
    finally:
        # unpersist on EVERY exit — a Lloyd-iteration failure (job
        # abort, empty-cluster edge) must not leak the MEMORY_AND_DISK
        # projection into the session (round-8 advice)
        v.unpersist()


def _kmeans_loop(spark, v, k, max_iter):
    import pandas as pd

    first = (v.orderBy("vec_id").limit(k)
             .select("embedding").toPandas()["embedding"])
    centroids = np.stack(first.to_numpy()).astype(np.float64)
    inertia_hist: list[float] = []

    def make_assign(bc, with_dist: bool):
        # one shared closure for the training and final assignment
        # passes; np_nearest is the oracle's own fold + fround6-argmin,
        # so dist2 (and the inertia) are fold values too
        def assign(batches):
            cent = bc.value
            for pdf in batches:
                if len(pdf) == 0:  # zero-row Arrow batch guard
                    continue
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                cl, d2 = np_nearest(m, cent)
                out = {"id": pdf["vec_id"], "cluster": cl.astype("int32")}
                if with_dist:
                    out["dist2"] = d2[np.arange(len(cl)), cl]
                    out["embedding"] = pdf["embedding"]
                yield pd.DataFrame(out)
        return assign

    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(centroids)
        assigned = v.mapInPandas(
            make_assign(bc, with_dist=True),
            schema="id bigint, cluster int, dist2 double, "
                   "embedding array<float>",
        )
        # ONE action per iteration: the per-(cluster, dim) centroid
        # partials and the inertia ride the same groupBy — dist2 is
        # folded in on the pos==0 row of each vector so it is summed
        # exactly once per point.  (Previously inertia was a second
        # action over a persisted assignment: 2 jobs + a persist per
        # iteration; same decimal-exact order-independent sums, same
        # values bit-for-bit, half the job count.)
        upd = (
            assigned.select("cluster", "dist2",
                            F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg((F.sum(F.col("x").cast("double").cast("decimal(30,10)"))
                  .cast("double") / F.count(F.lit(1))).alias("m"),
                 F.sum(F.when(F.col("pos") == 0, F.col("dist2"))
                       .cast("decimal(30,6)")).alias("d2"))
            .collect()
        )
        # exact-decimal partials summed exactly: identical to the single
        # global decimal sum regardless of collect order
        from decimal import Decimal
        inertia_hist.append(float(sum(
            (r["d2"] for r in upd if r["pos"] == 0 and r["d2"] is not None),
            Decimal(0))))
        new_centroids = centroids.copy()
        by_cluster: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        for c, dims in by_cluster.items():
            for p, m in dims.items():
                new_centroids[c, p] = m
        # EXACT fixed-point early stop (was allclose atol=1e-12): at a
        # bit-identical fixed point further iterations are provable
        # no-ops, so stopping early is replay-equivalent to running all
        # max_iter rounds — which is what q55's SQL oracle does.  A
        # tolerance stop could quit while the replay keeps moving.
        if (new_centroids == centroids).all():
            break
        centroids = new_centroids

    bc = spark.sparkContext.broadcast(centroids)
    # eager checkpoint of the (id, cluster) rows — bounded at two ints
    # per vector — so the cached projection can be released immediately
    # instead of leaking one copy per kmeans_fit call into the session
    assignments = v.mapInPandas(
        make_assign(bc, with_dist=False),
        schema="id bigint, cluster int").localCheckpoint(eager=True)
    return assignments, centroids, inertia_hist


def _km_d2_sql(a: str, b: str) -> str:
    """Ordered (x-c)^2 fold — DuckDB twin of the assignment distance.
    ``b`` must already be a DOUBLE list (the replay's centroid arrays).
    """
    return (f"list_reduce(list_transform(generate_series(1, len({a})),"
            f" i -> (CAST({a}[i] AS DOUBLE) - {b}[i])"
            f" * (CAST({a}[i] AS DOUBLE) - {b}[i])),"
            f" (x, y) -> x + y)")


def _km_assign_sql(name: str, cent: str) -> str:
    """Assignment CTE under centroid relation ``cent(cid, cemb)`` —
    fround6(d2) ASC, cid: bit-for-bit the Spark argmin contract."""
    return f"""{name} AS (
    SELECT vec_id, cid AS cluster FROM (
        SELECT x.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                   ORDER BY {sql_fround6(_km_d2_sql('x.embedding',
                                                    'c.cemb'))} ASC,
                            c.cid) AS rk
        FROM x CROSS JOIN {cent} c) WHERE rk = 1)"""


def _km_explode(rel_cols: str, src: str) -> str:
    """(…, pos, v) per-dim rows — generate_series is not lateral-joinable
    in DuckDB, so explode via unnest of a struct list."""
    return f"""(SELECT {rel_cols}, u.pos AS pos, u.v AS v FROM (
        SELECT {rel_cols},
               unnest(list_transform(generate_series(1, len(embedding)),
                   i -> {{'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}}))
                   AS u
        FROM {src}))"""


def _lloyd_parts(k: int, iters: int) -> list[str]:
    """The shared Lloyd-replay CTE chain (init -> iters x
    assignment/update -> final assignment ``afin``), factored out in
    round 14 so q223's silhouette oracle replays the IDENTICAL chain
    q55's oracle uses (byte-for-byte — q55's oracle text is unchanged
    by the refactor, so no rule-2 force)."""
    parts = [f"""x AS (SELECT vec_id, embedding FROM embeddings),
xd AS {_km_explode('vec_id', 'x')},
cd0 AS (SELECT cid, pos, v AS c FROM {_km_explode(
    'cid',
    '(SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding '
    f'FROM (SELECT * FROM x ORDER BY vec_id LIMIT {k}))')}),
c0 AS (SELECT cid, list(c ORDER BY pos) AS cemb FROM cd0 GROUP BY cid)"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""{_km_assign_sql(f'a{t}', f'c{p}')},
m{t} AS (
    SELECT a.cluster AS cid, d.pos,
           CAST(SUM(CAST(d.v AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS m
    FROM a{t} a JOIN xd d ON d.vec_id = a.vec_id
    GROUP BY a.cluster, d.pos),
cd{t} AS (
    SELECT p.cid, p.pos, COALESCE(m.m, p.c) AS c
    FROM cd{p} p LEFT JOIN m{t} m ON m.cid = p.cid AND m.pos = p.pos),
c{t} AS (SELECT cid, list(c ORDER BY pos) AS cemb FROM cd{t} GROUP BY cid)""")
    parts.append(_km_assign_sql("afin", f"c{iters}"))
    return parts


def _q55_oracle(k: int = 8, iters: int = 5) -> str:
    """Full Lloyd replay in SQL (round 13 — the q52 IVF-replay
    precedent extended to the iterative class): init = first k vectors
    by vec_id; each iteration = fround6-argmin assignment + per-dim
    decimal(30,10)-exact means with empty clusters carrying their
    previous centroid (COALESCE against the prior per-dim rows); after
    ``iters`` updates, one final assignment feeds the cluster-size
    output.  Kosher because every Spark-side step is order-independent
    (see kmeans_fit), and both sides compute d2 by the same ordered
    fold (common.np_nearest / _km_d2_sql), so the replay is exact.
    Cost is LINEAR in corpus size (n*k folds per assignment — 8.2 s at
    sf1's 20k vectors), unlike the quadratic all-pairs oracles.
    """
    return ("WITH " + ",\n".join(_lloyd_parts(k, iters)) + """
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM afin GROUP BY cluster""")


@query("q55_kmeans", _q55_oracle())
def q55_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster sizes from a deterministic 5-iteration k-means (k=8).

    Fully oracled since round 13 (_q55_oracle — the no-oracle set
    shrinks 3 -> 2); triangulated by a from-scratch numpy+Decimal Lloyd
    replay in tests/test_numpy_crosscheck24.py.
    """
    assignments, _, _ = kmeans_fit_cached(spark, sf_dir)
    return (assignments.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.min("id").alias("min_vec_id")))


# --------------------------------------------------------------------------
# q223 — simplified-silhouette cluster QA (round 14; new capability).
# The cluster-quality gate a pipeline runs BEFORE trusting k-means
# output for SemDeDup (q148) or IVF routing (q52): per point,
# a = euclidean distance to its own centroid, b = min distance to any
# other centroid, s = (b - a) / max(a, b) — the centroid-based
# "simplified silhouette" (Hruschka et al. 2004, public), which is
# LINEAR in n where the classic silhouette's pairwise form is O(n^2)
# and could never run at corpus scale.  Output per cluster: size, mean
# and min silhouette — low means tell you which clusters are unreliable
# routing targets.
#
# Scale shape: one Lloyd fit (kmeans_fit — broadcast centroids, ONE
# action per iteration), then ONE map-side mapInPandas pass with the
# k x dim centroid broadcast computing assignment + a + b + s per row —
# no join, no shuffle beyond the k-row final aggregate.
#
# Engine contract: the kernel is common.np_nearest — d2 as the ordered
# fold over dims (the oracle's _km_d2_sql order), assignment =
# fround6-argmin (ties -> lowest cid; identical formula on both sides,
# and the oracle replays the identical Lloyd chain as q55 via
# _lloyd_parts, so centroids match bit-for-bit).  sqrt is correctly
# rounded IEEE on both engines; (b-a)/max(a,b) is plain IEEE on
# identical bits; the mean goes through the round-9 + decimal-sum
# device and fround6.
# --------------------------------------------------------------------------
def _q223_oracle(k: int = 8, iters: int = 5) -> str:
    parts = _lloyd_parts(k, iters)
    parts.append(f"""sdist AS (
    SELECT a.vec_id, a.cluster, c.cid,
           sqrt({_km_d2_sql('x.embedding', 'c.cemb')}) AS dist
    FROM afin a JOIN x ON x.vec_id = a.vec_id
    CROSS JOIN c{iters} c),
sab AS (
    SELECT vec_id, cluster,
           MIN(CASE WHEN cid = cluster THEN dist END) AS a,
           MIN(CASE WHEN cid <> cluster THEN dist END) AS b
    FROM sdist GROUP BY vec_id, cluster),
sil AS (
    SELECT cluster,
           CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                ELSE (b - a) / greatest(a, b) END AS s
    FROM sab)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       {sql_fround6("CAST(SUM(CAST(ROUND(s, 9) AS DECIMAL(30,9)))"
                    " AS DOUBLE) / COUNT(*)")} AS avg_silhouette,
       {sql_fround6('MIN(s)')} AS min_silhouette
FROM sil GROUP BY cluster""")


@query("q223_cluster_silhouette", _q223_oracle())
def q223_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .common import fround6

    e = load(spark, sf_dir, "embeddings")
    _, centroids, _ = kmeans_fit_cached(spark, sf_dir)
    bc = spark.sparkContext.broadcast(centroids)

    def sil_kernel(batches):
        cent = bc.value
        for pdf in batches:
            if len(pdf) == 0:  # zero-row Arrow batch guard
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cl, d2 = np_nearest(m, cent)
            dist = np.sqrt(d2)
            rows = np.arange(len(m))
            a = dist[rows, cl]
            masked = dist.copy()
            masked[rows, cl] = np.inf
            b = masked.min(axis=1)
            hi = np.maximum(a, b)
            s = np.where(hi == 0.0, 0.0, (b - a) / np.where(hi == 0.0,
                                                            1.0, hi))
            yield pd.DataFrame({"cluster": cl.astype("int32"), "s": s})

    per_point = e.select("embedding").mapInPandas(
        sil_kernel, schema="cluster int, s double")
    return (per_point.groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 fround6(F.sum(F.round(F.col("s"), 9)
                               .cast("decimal(30,9)")).cast("double")
                         / F.count(F.lit(1))).alias("avg_silhouette"),
                 fround6(F.min("s")).alias("min_silhouette"))
            .withColumn("cluster", F.col("cluster").cast("bigint")))


# --------------------------------------------------------------------------
# Connected components via iterative min-label propagation ("large-star"
# simplification): the transitive closure of near-dup pairs — the cluster
# ids a dedup pipeline actually keys on (pair lists alone under-merge:
# a~b, b~c must collapse to one cluster even when a!~c).
# Each iteration: label[v] = min(label[v], min over neighbors) — a
# groupBy-min shuffle; converges in O(diameter) iterations.
# --------------------------------------------------------------------------
def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """edges: (a, b) undirected.  Returns (node, component) with component
    = min node id in the component."""
    # Persist the edge set: without this every iteration re-executes the
    # whole upstream lineage (for q56 that's the full MinHash-LSH DAG —
    # measured 38s vs ~5s).  localCheckpoint each round truncates the
    # otherwise-exponential iterative lineage.
    sym = (edges.selectExpr("a AS src", "b AS dst")
           .unionByName(edges.selectExpr("b AS src", "a AS dst"))
           .persist())
    # Size the iteration frames to the edge set, not the session's
    # shuffle-partition default: a near-dup closure is usually tiny
    # relative to the corpus, and checkpointing it at 200+ partitions
    # makes every round pay hundreds of empty-task overheads (measured
    # ~50 s for a 50-edge graph under a default-config session).  Large
    # edge sets still spread across the full parallelism.
    n_edges = sym.count()
    sc = edges.sparkSession.sparkContext
    nparts = max(1, min(sc.defaultParallelism, n_edges // 100_000 + 1))
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .coalesce(nparts)
              .withColumn("component", F.col("node"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src").agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels.node == neigh_min.src, "left")
            .select(
                "node",
                F.least(F.col("component"),
                        F.coalesce(F.col("nmin"), F.col("component")))
                .alias("component"),
            )
            .coalesce(nparts)
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # loop exhausted without a fixpoint: labels are under-merged
        # (propagation moves the min label one hop per iteration, so a
        # component with diameter > max_iter is still split) — this must
        # never be returned silently as a "result"
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — graph diameter exceeds max_iter; raise max_iter")
    sym.unpersist()
    return labels


def _oracle_q56() -> str:
    """Recursive-CTE transitive closure over the q47 pair oracle: at
    sf0.01 scale DuckDB can enumerate every reachable pair, so the
    iterative min-label propagation gets a REAL value oracle (component =
    min reachable id), not just a rows-only check."""
    from .dedup import ORACLES as dedup_oracles

    return f"""
    WITH RECURSIVE pairs AS (
        SELECT a_id, b_id FROM ({dedup_oracles['q47_minhash_lsh']}) q47
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS node, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    )
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(node) AS keeper_doc_id
    FROM comp GROUP BY component
    """


def components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) over the near-dup graph, session-memoized (r16
    optimization; the semdedup_assign_cached pattern).  q56 (clusters),
    q94 (canonical pick) and q152 (via q56) each re-ran the O(diameter)
    label-propagation loop per query over the SAME memoized pair set —
    three closures per bench pass for one deterministic relation.  The
    component table is duplication-bounded (nodes = clustered docs) and
    connected_components already returns it checkpointed, so the memo
    pins a materialized frame, exactly the near_dup_pairs lifecycle."""
    from .dedup import _doc_frame_memo, near_dup_pairs

    def build():
        edges = near_dup_pairs(spark, sf_dir).selectExpr(
            "a_id AS a", "b_id AS b")
        return (connected_components(edges),)

    return _doc_frame_memo(spark, sf_dir, "neardup_components", build,
                           table="documents")[0]


@query("q56_dedup_components", _oracle_q56())
def q56_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters over the MinHash near-dup pairs (q47):
    component id, cluster size, keeper doc."""
    comp = components_cached(spark, sf_dir)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("node").alias("keeper_doc_id")))


# --------------------------------------------------------------------------
# q86 — PageRank centrality over the near-dup graph (5 fixed power
# iterations, damping 0.85): ranks each clustered document by how central
# it is among its near-duplicates — the principled "which copy is
# canonical" signal (min-doc-id keeper policy is arbitrary; the most-
# linked variant is usually the cleanest).
#
# Determinism contract: per-edge contributions rank/deg are computed in
# double (identical IEEE ops both engines) and SUMMED through
# DECIMAL(30,6) — order-independent, so AQE/partitioning cannot change
# results, and the DuckDB oracle matches bit-for-bit.  Scale-6
# accumulation IS the operator's numeric contract (documented loss vs
# infinite precision; identical everywhere).
#
# The oracle UNROLLS the 5 iterations as chained CTEs rather than a
# recursive CTE: SQL engines (DuckDB included) prohibit aggregation in a
# recursive term, and a fixed iteration count needs no recursion.
#
# Scale shape: per iteration one join (edges x ranks, both partitioned
# on node) + one groupBy-sum with map-side partials; edges persist once,
# ranks localCheckpoint per round (the q56 lineage-truncation pattern).
# --------------------------------------------------------------------------
_PR_ITERS = 5
_PR_DAMP = 0.85


_PR_BROADCAST_EDGES = 1_000_000  # below this the rank table broadcasts


def pagerank(edges: DataFrame, n_iter: int = _PR_ITERS) -> DataFrame:
    """edges: (a, b) undirected.  Returns (node, rank) after n_iter
    power iterations with decimal-exact contribution sums.

    Two join regimes (the q10 pattern): small graphs broadcast the
    per-node rank/degree tables so each iteration costs ONE shuffle (the
    contribution groupBy, AQE-coalesced) instead of three 200-partition
    join exchanges — measured 17.4s -> ~5s for the 47-node near-dup
    graph under a default-config session.  Past the threshold the joins
    fall back to the shuffle planner; at true scale the edge set is
    bucketed by node so the iteration joins co-locate (SCALE_NOTES
    checklist #3).
    """
    sym = (edges.selectExpr("a AS src", "b AS dst")
           .unionByName(edges.selectExpr("b AS src", "a AS dst"))
           .distinct().persist())
    n_edges = sym.count()
    sc = edges.sparkSession.sparkContext
    nparts = max(1, min(sc.defaultParallelism, n_edges // 100_000 + 1))
    small = n_edges < _PR_BROADCAST_EDGES
    hint = F.broadcast if small else (lambda df: df)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # LOOP-INVARIANT join hoist (r16 optimization): sym x deg does not
    # change across iterations, so attach deg to every edge ONCE and
    # persist the combined table — the old loop re-joined deg every
    # round, paying an extra broadcast build + join per iteration (5
    # here; values identical, deg is functionally determined by src).
    symdeg = sym.join(deg, "src").persist()
    ranks = (deg.select(F.col("src").alias("node"),
                        F.lit(1.0).alias("rank"))
             .coalesce(nparts))
    # NO per-iteration checkpoint, deliberately: the iteration count is
    # FIXED and each rank frame feeds exactly one consumer, so the plan
    # is a linear 5-level DAG that executes as one job — q56's loop needs
    # lineage truncation only because it is unbounded and probes
    # convergence (two consumers per round).  Measured: checkpointing
    # every round cost ~1.2s/iteration of pure job overhead here.
    for _ in range(n_iter):
        contribs = (
            symdeg.join(hint(ranks), symdeg.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy("dst")
            .agg((F.lit(1.0 - _PR_DAMP)
                  + F.lit(_PR_DAMP)
                  * F.sum(F.col("c").cast("decimal(30,6)")).cast("double"))
                 .alias("rank"))
            .select(F.col("dst").alias("node"), "rank")
            .coalesce(nparts)
        )
    # Materialize the final (node-sized) ranks eagerly so the persisted
    # edge/degree tables can be released before returning — without this
    # every pagerank() call pins executor cache for the session lifetime
    # (the q18 unpersist-after-use pattern elsewhere in the repo).
    ranks = ranks.localCheckpoint(eager=True)
    sym.unpersist()
    symdeg.unpersist()
    return ranks


def _oracle_q86() -> str:
    from .dedup import ORACLES as dedup_oracles

    sql = f"""
    WITH pairs AS (
        SELECT a_id, b_id FROM ({dedup_oracles['q47_minhash_lsh']}) q47
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg)"""
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
    r{i} AS (
        SELECT e.dst AS node,
               {1.0 - _PR_DAMP} + {_PR_DAMP} * CAST(SUM(CAST(
                   r.rank / d.deg AS DECIMAL(30,6))) AS DOUBLE) AS rank
        FROM r{i - 1} r
        JOIN edges e ON r.node = e.src
        JOIN deg d ON d.src = r.node
        GROUP BY e.dst
    )"""
    sql += f"""
    SELECT node AS doc_id, ROUND(rank, 6) AS rank
    FROM r{_PR_ITERS}"""
    return sql


@query("q86_pagerank_centrality", _oracle_q86())
def q86_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-graph centrality: doc_id, PageRank after 5 iterations."""
    from .dedup import near_dup_pairs

    edges = near_dup_pairs(spark, sf_dir).selectExpr("a_id AS a", "b_id AS b")
    return pagerank(edges).select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank"))


# --------------------------------------------------------------------------
# q94 — quality-aware canonical selection per near-dup cluster: for each
# transitive dup component (q56), keep the member with the MOST content
# (max n_chars; ties -> lowest doc_id).  The materialization step after
# clustering — q56's min-id "keeper" is arbitrary, while retention
# pipelines keep the richest copy (the q86 docstring's canonicality
# point, made deterministic without a rank model).
#
# Plan shape: components (iterative, edge-sized) join the corpus metadata
# on doc_id — a dimension-to-fact equi-join touching only clustered docs —
# then ONE groupBy(component) with a struct-max aggregate: max of
# (n_chars, -doc_id) picks the longest doc with smallest-id tie-break in
# a single shuffle (no second join-back pass).  At 100 TB the component
# table is duplication-bounded (orders smaller than the corpus) and
# broadcast-joins the metadata scan.
# --------------------------------------------------------------------------
def _oracle_q94() -> str:
    from .dedup import ORACLES as dedup_oracles

    return f"""
    WITH RECURSIVE pairs AS (
        SELECT a_id, b_id FROM ({dedup_oracles['q47_minhash_lsh']}) q47
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS node, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ),
    members AS (
        SELECT c.component, d.doc_id, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    mx AS (
        SELECT component, MAX(n_chars) AS max_chars
        FROM members GROUP BY component
    )
    SELECT m.component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           mx.max_chars AS canonical_chars,
           MIN(CASE WHEN m.n_chars = mx.max_chars THEN m.doc_id END)
               AS canonical_id
    FROM members m JOIN mx ON m.component = mx.component
    GROUP BY m.component, mx.max_chars
    """


@query("q94_dedup_canonical", _oracle_q94())
def q94_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (richest) member per near-dup cluster."""
    comp = components_cached(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = comp.join(d, comp.node == d.doc_id)
    # single-shuffle argmax: max struct(n_chars, -doc_id) = longest doc,
    # smallest id on ties
    best = F.max(F.struct(F.col("n_chars").alias("nc"),
                          (-F.col("doc_id")).alias("nd"))).alias("b")
    return (members.groupBy("component")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"), best)
            .select("component", "n_members",
                    F.col("b.nc").alias("canonical_chars"),
                    (-F.col("b.nd")).alias("canonical_id")))


# --------------------------------------------------------------------------
# q109 — triangle counting + global clustering coefficient on the
# co-purchase graph (parts sharing an order), via the canonical
# distributed node-iterator++ algorithm: orient every edge from its
# (degree, id)-smaller endpoint to the larger, join oriented edges on the
# wedge pivot, then probe wedge closures against the oriented edge list.
# Orientation bounds out-degree by O(sqrt(E)), so the wedge join — the
# only super-linear step — is O(E^1.5) worst case instead of Σdeg², and
# every triangle is generated exactly once (s < t < u in degree order).
#
# The graph is built from a 1/20 deterministic hash-sample of orders
# (md5 < '0d'): edge volume scales linearly with sf while keeping the
# inherently-E^1.5 wedge stage within the bench envelope; the sample is a
# pure function of o_orderkey, so both engines see the same graph.
#
# Scale: 3 shuffles on uniform keys (edge dedup, degree agg, wedge join);
# the closure probe joins wedges to edges on (s,t) pairs — uniform again.
# Skewed pivots (one part in thousands of orders) are exactly what the
# degree orientation neutralizes: high-degree nodes get in-edges, not
# out-edges, so they never pivot a wedge.
# --------------------------------------------------------------------------
@query(
    "q109_triangle_count",
    """
    WITH so AS (
        SELECT o_orderkey FROM orders
        WHERE md5(CAST(o_orderkey AS VARCHAR)) < '0d'
    ),
    lp AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem JOIN so ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM edges
            UNION ALL SELECT v FROM edges) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        FROM edges e
        JOIN deg du ON e.u = du.node
        JOIN deg dv ON e.v = dv.node
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.t = e2.s
        JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    ),
    wedges AS (SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg),
    ecount AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT CAST(ecount.n_edges AS BIGINT) AS n_edges,
           CAST(wedges.n_wedges AS BIGINT) AS n_wedges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * tri.n_triangles / wedges.n_wedges, 6)
               AS clustering_coeff
    FROM tri CROSS JOIN wedges CROSS JOIN ecount
    """,
)
def q109_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_q109(spark, sf_dir)  # shared, checkpointed (see below)
    deg = (edges.select(F.col("u").alias("node"))
           .unionAll(edges.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    du, dv = deg.alias("du"), deg.alias("dv")
    e = edges.alias("e")
    lt = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("e.u") < F.col("e.v")))
    oriented = (e.join(du, F.col("e.u") == F.col("du.node"))
                .join(dv, F.col("e.v") == F.col("dv.node"))
                .select(F.when(lt, F.col("e.u")).otherwise(F.col("e.v"))
                        .alias("s"),
                        F.when(lt, F.col("e.v")).otherwise(F.col("e.u"))
                        .alias("t")))
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (e1.join(e2, F.col("e1.t") == F.col("e2.s"))
           .join(e3, (F.col("e3.s") == F.col("e1.s"))
                 & (F.col("e3.t") == F.col("e2.t")))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint")
        .alias("n_wedges"))
    ecount = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    # 1-row x 1-row broadcast crossJoins of the three scalars
    return (ecount.crossJoin(wedges).crossJoin(tri)
            .select("n_edges", "n_wedges", "n_triangles",
                    F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
                    .alias("clustering_coeff")))


# --------------------------------------------------------------------------
# q115 — multi-source BFS hop counts: shortest hop distance (<= 4) from
# the seed set {smallest 5 part ids in the graph} to every reachable
# node, over the same 1/20 hash-sampled co-purchase graph as q109.
#
# Spark side: the canonical distributed BFS — a driver loop of
# frontier ⨝ edges -> min-agg rounds, each round one shuffle on the
# frontier key, frames localCheckpointed so lineage stays flat (the
# connected_components discipline).  The oracle is a DuckDB recursive CTE
# walking the same edges — genuinely iterative, yet fully value-checked.
#
# Scale: per round the traffic is |frontier| x avg-degree; hop-bounded
# BFS (here 4) is the production shape for "blast radius" queries over
# dup graphs.  Seeds and graph are pure hash functions of the data.
# --------------------------------------------------------------------------
_BFS_HOPS = 4
_BFS_SEEDS = 5


def _edges_q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled co-purchase edge set shared by q109 (triangles) and q115
    (BFS), a session-tier memo pinned by one localCheckpoint.  The
    pair-join + distinct behind it is ~2 s at sf0.1."""
    def build():
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders")
        so = (o.filter(F.md5(F.col("o_orderkey").cast("string")) < "0d")
              .select("o_orderkey"))
        lp = (li.join(so, li.l_orderkey == so.o_orderkey)
              .select("l_orderkey", "l_partkey").distinct())
        a, b = lp.alias("a"), lp.alias("b")
        return (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                       & (F.col("a.l_partkey") < F.col("b.l_partkey")))
                .select(F.col("a.l_partkey").alias("u"),
                        F.col("b.l_partkey").alias("v"))
                .distinct()
                .localCheckpoint(eager=True))

    return memo(spark, "edges_q109", [f"{sf_dir}/{t}.parquet"
                                      for t in ("lineitem", "orders")], build)


def _oracle_q115() -> str:
    return f"""
    WITH RECURSIVE
    so AS (SELECT o_orderkey FROM orders
           WHERE md5(CAST(o_orderkey AS VARCHAR)) < '0d'),
    lp AS (SELECT DISTINCT l_orderkey, l_partkey
           FROM lineitem JOIN so ON l_orderkey = o_orderkey),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v, u FROM edges),
    seeds AS (
        SELECT node FROM (
            SELECT DISTINCT src AS node FROM sym ORDER BY node
            LIMIT {_BFS_SEEDS})
    ),
    walk(node, hops) AS (
        SELECT node, 0 FROM seeds
        UNION ALL
        SELECT s.dst, w.hops + 1
        FROM walk w JOIN sym s ON w.node = s.src
        WHERE w.hops < {_BFS_HOPS}
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """


@query("q115_bfs_hops", _oracle_q115())
def q115_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_q109(spark, sf_dir)
    sym = (edges.selectExpr("u AS src", "v AS dst")
           .unionByName(edges.selectExpr("v AS src", "u AS dst"))
           .persist())
    sc = spark.sparkContext
    n_edges = sym.count()
    nparts = max(1, min(sc.defaultParallelism, n_edges // 100_000 + 1))
    seeds = (sym.select(F.col("src").alias("node")).distinct()
             .orderBy("node").limit(_BFS_SEEDS))
    first = (seeds.withColumn("hops", F.lit(0).cast("bigint"))
             .coalesce(nparts).localCheckpoint(eager=True))
    # dist is kept as a UNION OF PER-HOP CHECKPOINTED PIECES rather than
    # re-checkpointed each hop (r16): every piece is already materialized
    # (the per-hop eager checkpoint truncates lineage and feeds the
    # next hop's anti-join), so re-materializing their union bought
    # nothing and cost one extra job + storage write per hop.  The
    # anti-join and the final consumer scan <= _BFS_HOPS+1 small
    # checkpointed frames — no recompute anywhere.  Values identical
    # (r16 A/B; same rows, one fewer job per hop).
    pieces = [first]
    dist = first
    frontier = first
    for hop in range(1, _BFS_HOPS + 1):
        neigh = (frontier.join(sym, frontier.node == sym.src)
                 .select(F.col("dst").alias("node"))
                 .distinct())
        new = (neigh.join(dist, "node", "left_anti")
               .withColumn("hops", F.lit(hop).cast("bigint"))
               .coalesce(nparts).localCheckpoint(eager=True))
        if new.limit(1).count() == 0:
            break
        pieces.append(new)
        dist = pieces[0]
        for p in pieces[1:]:
            dist = dist.unionByName(p)
        frontier = new
    sym.unpersist()
    return dist


# --------------------------------------------------------------------------
# q152 — duplicate-cluster size distribution: histogram of connected-
# component sizes over the near-dup graph, with the duplicate overhead
# (docs beyond the keeper) each size class contributes.  The curation
# dashboard number: "how much of the corpus is 2-copies vs 50-copy spam".
#
# Shape: one extra vocab-of-sizes groupBy on top of q56's components —
# reuses the session-shared near-dup pair set, so the LSH DAG is not
# re-run.  Integer counts only.
# --------------------------------------------------------------------------
def _oracle_q152() -> str:
    return f"""
    WITH comps AS ({_oracle_q56()})
    SELECT n_docs AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs_total,
           CAST(SUM(n_docs - 1) AS BIGINT) AS n_dup_overhead
    FROM comps GROUP BY n_docs
    """


@query("q152_dup_cluster_sizes", _oracle_q152())
def q152_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = q56_dedup_components(spark, sf_dir)
    return (comps.groupBy(F.col("n_docs").alias("cluster_size"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
                 F.sum("n_docs").cast("bigint").alias("n_docs_total"),
                 F.sum(F.col("n_docs") - 1).cast("bigint")
                 .alias("n_dup_overhead")))


# --------------------------------------------------------------------------
# q171 — near-dup graph degree distribution: how many documents have k
# near-duplicates.  Complements q152 (component sizes): degree is the
# LOCAL view — a power-law tail here with small components means many
# pairwise-similar docs that do not chain, the signature of template
# spam vs true copies.  Reuses the session-shared pair set.
# --------------------------------------------------------------------------
def _oracle_q171() -> str:
    from .dedup import ORACLES as dedup_oracles

    return f"""
    WITH pairs AS (
        SELECT a_id, b_id FROM ({dedup_oracles['q47_minhash_lsh']}) q47
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT a_id AS node FROM pairs
            UNION ALL
            SELECT b_id FROM pairs
        ) GROUP BY node
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """


@query("q171_dup_degree_distribution", _oracle_q171())
def q171_dup_degree_distribution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from .dedup import near_dup_pairs

    pairs = near_dup_pairs(spark, sf_dir)
    deg = (pairs.selectExpr("a_id AS node")
           .unionAll(pairs.selectExpr("b_id AS node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))


# --------------------------------------------------------------------------
# q219 — k-means audit (round-12 no-oracle shrink; since round 13 q55
# itself carries a full Lloyd-replay oracle, so this twin is now the
# CONTRACT-level check layered on top of exact replay): Lloyd's
# contract is checkable: every point assigned exactly once (n_points —
# independently recomputed by the DuckDB oracle from the corpus), at
# most k clusters, and the inertia history non-increasing (Lloyd's
# monotonicity guarantee — a broken assign/update step flips it).  The
# flags are deterministic per dataset (seeded init, fixed iteration
# count), so this is a stable driver hash row, not a flaky gate.
# --------------------------------------------------------------------------
@query(
    "q219_kmeans_audit",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(8 AS BIGINT) AS k,
           CAST(1 AS BIGINT) AS inertia_monotone,
           CAST(1 AS BIGINT) AS final_inertia_ok
    FROM embeddings
    """,
)
def q219_kmeans_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load
    from .common import dsum
    from .similarity import _d2_spark

    e = load(spark, sf_dir, "embeddings")
    assignments, centroids, hist = kmeans_fit_cached(spark, sf_dir)
    n_points = assignments.count()
    # float-noise tolerance: partial re-aggregation order can wiggle the
    # reported inertia by ~1e-9 relative; Lloyd violations are orders of
    # magnitude larger
    monotone = int(all(b <= a * (1 + 1e-9)
                       for a, b in zip(hist, hist[1:])))
    # the RETURNED assignment's inertia, recomputed independently from
    # (assignments x centroids), must not exceed the last training
    # inertia — Lloyd's final update+reassign can only descend.  This
    # exercises real detection power (an argmin/update bug breaks it),
    # unlike a cluster-count bound that argmin satisfies by construction
    # (r12 review).
    cdf = e.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, cvec array<double>")
    (final_inertia,) = (
        assignments
        .join(e.select(F.col("vec_id").alias("id"), "embedding"), "id")
        .join(F.broadcast(cdf), "cluster")
        .select(F.expr(_d2_spark("embedding", "cvec")).alias("d2"))
        .agg(dsum("d2", "inertia")).first())
    final_ok = int(final_inertia <= hist[-1] * (1 + 1e-9))
    return spark.createDataFrame(
        [(n_points, 8, monotone, final_ok)],
        "n_points bigint, k bigint, inertia_monotone bigint, "
        "final_inertia_ok bigint")
