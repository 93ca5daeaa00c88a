"""Similarity search over the embedding column (array<float>).

North-star surface (BASELINE.json): brute-force cosine top-k as the exact
baseline, and an LSH-bucketed variant as the 100 TB scale path.

Determinism: the dot product is an explicit LEFT FOLD in index order with
per-element DOUBLE casts — Spark's ``aggregate(zip_with(...))`` and
DuckDB's ``list_reduce(list_transform(...))`` then produce bit-identical
doubles, so cosine scores, thresholds and rank orders agree exactly with
the oracle (no rounding tolerance needed).

Scale shape: brute-force is a broadcast of the (small) query set against a
partitioned scan of the corpus — O(n_queries * n_corpus) FLOPs but zero
shuffle of the corpus; top-k folds into a per-partition partial
(window rank after a groupBy-free pipeline).  The SRP-LSH variant buckets
both sides on a 16-bit signed-random-projection signature, so candidate
generation is an equi-join on the bucket key; hyperplanes are derived
arithmetically (no stored model) and identically in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load, load_spread
from ..memo import memo
from ..queries_registry import registrar
from .common import (davg, dvar_samp, fround6, np_fround6, np_nearest,
                     sql_davg, sql_dvar_expr, sql_fround6, sql_spark_pct)

QUERIES, ORACLES, query = registrar()


# dot(a, b) as a strict left fold in index order, double math throughout.
# Row-count threshold above which the UNROLLED dot/plane expressions
# pay for themselves: the unrolled tree is ~60x larger, costing a fixed
# ~0.3-0.5 s of Catalyst planning per execution (measured: q51 warm at
# sf0.1 went 0.94 -> 1.47 s when unconditionally unrolled), while the
# per-evaluation win is ~2.2-2.4x on a ~5.7 us lambda fold.  Break-even
# is a few hundred thousand evaluations; n >= 10k rows implies >= n x K
# or pair-count evaluations well past it (at sf1's 20k rows the unroll
# won 9.5 -> 4.7 s including planning).  Callers probe their corpus
# count once (the q50/q154 block-sizing pattern) and pass dim64=True.
_UNROLL_MIN_ROWS = 10_000


def _dot_spark(a: str, b: str, dim64: bool = False) -> str:
    """Strict left-fold dot product, bit-identical to the oracle's
    list_reduce (0.0 + p0 + p1 + ... in source order — IEEE-identical
    because 0.0 + p0 == p0).

    With ``dim64`` (callers set it after a corpus-size probe, see
    _UNROLL_MIN_ROWS) the dim=64 case takes an UNROLLED straight-line
    sum guarded by a size check: the higher-order aggregate/zip_with
    lambda costs ~5.7 us per evaluation under codegen's lambda
    dispatch, and the round-10 sf1 probe showed it dominating every
    fold-dot consumer (q201's n x K assignment measured 2.8M dots =
    16 s).  The unrolled branch is the SAME
    float-widen-then-multiply-then-left-add op sequence (measured 2.2x
    faster on 2.8M dots, sum bit-identical); other dims fall back to
    the generic fold at runtime, so either flag value is value-safe.
    Callers pass plain column references — the operands are repeated
    128x in the unrolled text, so a computed expression here would be
    re-evaluated per term.
    """
    fold = (f"aggregate(zip_with({a}, {b},"
            f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    if not dim64:
        return fold
    unroll = "(CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(64)) + ")"
    return (f"(CASE WHEN size({a}) = 64 AND size({b}) = 64"
            f" THEN {unroll} ELSE {fold} END)")


def _d2_spark(a: str, b: str) -> str:
    """Squared euclidean distance as the same strict left fold (the
    DuckDB side's ordered ``(x-c)^2`` list_reduce, and
    common.np_nearest's numpy sequence)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) ->"
            f" (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _dot_sql(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(generate_series(1, len({a})),"
            f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
            f" (x, y) -> x + y)")


def _norm_spark(a: str, dim64: bool = False) -> str:
    return f"sqrt({_dot_spark(a, a, dim64)})"


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _query_top3(scored: DataFrame, score) -> DataFrame:
    """The 3 best rows per ``query_id``, numbered ``rk`` 1..3 by the sort
    column ``score`` (e.g. ``F.desc("cosine")``) then neighbor_id ASC —
    the (score, neighbor_id) tie rule every top-k oracle's ROW_NUMBER
    mirrors."""
    w = W.partitionBy("query_id").orderBy(score, F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3))


# --------------------------------------------------------------------------
# q49 — brute-force cosine top-k: query set = vec_id < 10, k = 3.
# The exact ANN baseline; ties broken by vec_id for determinism.
# --------------------------------------------------------------------------
_ORACLE_Q49 = f"""
    WITH q AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
               FROM embeddings WHERE vec_id < 10
                 AND {_norm_sql('embedding')} > 0),
         c AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
               FROM embeddings WHERE {_norm_sql('embedding')} > 0),
         scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
            FROM q JOIN c ON q.vec_id <> c.vec_id
         )
    SELECT query_id, neighbor_id, rk, ROUND(cosine, 6) AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 3
"""


@query("q49_cosine_topk", _ORACLE_Q49)
def q49_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # one metadata-cheap count gates the unrolled dot (_UNROLL_MIN_ROWS)
    u = e.count() >= _UNROLL_MIN_ROWS
    # zero-norm vectors make cosine 0/0 = NaN, whose comparison semantics
    # differ between numpy/Spark and DuckDB's total float order — exclude
    # them identically on both sides (the oracle filters nrm > 0 too)
    withn = e.select(
        "vec_id", "embedding",
        F.expr(_norm_spark("embedding", u)).alias("nrm")
    ).filter(F.col("nrm") > 0)
    q = withn.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        # broadcast the small query side; the corpus never shuffles
        withn.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.expr(_dot_spark("q_emb", "embedding", u))
             / (F.col("q_nrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    return (_query_top3(scored, F.desc("cosine"))
            .select("query_id", "neighbor_id", "rk",
                    F.round("cosine", 6).alias("cosine")))


# --------------------------------------------------------------------------
# q50 — embedding near-dup pairs: all pairs with cosine >= 0.35 (the
# synthetic embeddings are near-orthogonal — max pairwise cosine ~0.51 —
# so 0.35 selects the genuine outlier pairs).  The threshold compares
# bit-identical doubles, so no boundary instability.
# --------------------------------------------------------------------------
_ORACLE_Q50 = f"""
    WITH e AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
               FROM embeddings WHERE {_norm_sql('embedding')} > 0)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6)
               AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.35
"""


# Rows per similarity block: one block-pair group holds at most 2 blocks
# (2 * 8192 * dim doubles ~ 8 MB at dim=64) regardless of corpus size.
_Q50_BLOCK_ROWS = 8192


@query("q50_embedding_neardup", _ORACLE_Q50)
def q50_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-dup as a distributed block-pair matmul.

    Physical strategy: hash-assign every vector to one of B blocks
    (B = ceil(n / 8192)), replicate each row to the B block-pair groups
    its block participates in, and compute each (block_i, block_j) group's
    similarity tile as one numpy matmul inside applyInPandas.  Every
    unordered row pair meets in exactly one group (the pair of its two
    blocks), so `a_id < b_id` yields each candidate once.

    Scale shape: work is the operator's inherent O(n^2) FLOPs, but memory
    per task is bounded by two 8192-row blocks and NOTHING is collected on
    the driver or broadcast whole — the previous design materialized the
    full corpus driver-side, which dies at 100 TB.  Shuffle volume is
    n * B rows (the square-root-replication standard for distributed
    all-pairs).  q51's SRP-LSH bucketing remains the sub-quadratic scale
    path; this operator is the exact baseline.

    BLAS note: round(6) absorbs the ~1e-13 BLAS-vs-fold reassociation
    delta relative to the oracle's exact left fold (the 0.35 threshold sits
    ~1e9 ULPs from any score — no boundary flake in practice).
    """
    import math

    import numpy as np
    import pandas as pd

    # load_spread: block replication + the applyInPandas tile feed
    # otherwise serialize behind the one-split scan (r16 A/B: 0.68x)
    e = load_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()  # one cheap distributed count to size the block grid
    n_blocks = max(1, math.ceil(n / _Q50_BLOCK_ROWS))

    blocked = e.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int"))
    # replicate: block b joins pair-groups {(min(b,o), max(b,o)) | o < B}
    pairs = F.expr(
        f"transform(sequence(0, {n_blocks - 1}),"
        f" o -> struct(least(blk, o) AS i, greatest(blk, o) AS j))")
    rep = (blocked.withColumn("p", F.explode(pairs))
           .select("vec_id", "embedding", "blk",
                   F.col("p.i").alias("bi"), F.col("p.j").alias("bj")))

    def tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        empty = pd.DataFrame({"a_id": pd.Series([], dtype="int64"),
                              "b_id": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})

        def side(mask):
            ids = pdf["vec_id"].to_numpy()[mask]
            if len(ids) == 0:
                return ids, None, None
            m = np.stack(pdf["embedding"].to_numpy()[mask]).astype(np.float64)
            nrm = np.sqrt((m * m).sum(axis=1))
            keep = nrm > 0  # zero-norm -> NaN cosine; oracle filters nrm > 0
            return ids[keep], m[keep], nrm[keep]

        blk = pdf["blk"].to_numpy()
        a_ids, a_mat, a_nrm = side(blk == bi)
        if bi == bj:
            b_ids, b_mat, b_nrm = a_ids, a_mat, a_nrm
        else:
            b_ids, b_mat, b_nrm = side(blk == bj)
        if len(a_ids) == 0 or len(b_ids) == 0:
            return empty
        sims = (a_mat @ b_mat.T) / np.outer(a_nrm, b_nrm)
        ai, bix = np.where(sims >= 0.35)
        if bi == bj:
            # within-block tile sees each unordered pair twice (+ self)
            keep = a_ids[ai] < b_ids[bix]
            ai, bix = ai[keep], bix[keep]
            lo, hi = a_ids[ai], b_ids[bix]
        else:
            # cross-block tile sees each unordered pair exactly ONCE, in
            # whichever orientation the hash put it — order the ids, never
            # filter (an a_id < b_id filter here silently drops the pairs
            # whose bi-side id is the larger one)
            lo = np.minimum(a_ids[ai], b_ids[bix])
            hi = np.maximum(a_ids[ai], b_ids[bix])
        return pd.DataFrame({
            "a_id": lo, "b_id": hi,
            "cosine": np.round(sims[ai, bix], 6),
        })

    return rep.groupBy("bi", "bj").applyInPandas(
        tile, schema="a_id bigint, b_id bigint, cosine double")


# --------------------------------------------------------------------------
# q51 — SRP-LSH bucketed similarity (the scale path): a b-bit
# signed-random-projection signature; pairs sharing a bucket are verified
# with exact cosine.  Hyperplane weights are derived arithmetically
# (w[p][d] = ((p*73856093 + d*19349663) % 2003) - 1001), so the oracle
# reproduces the buckets exactly.  At 100 TB candidates come from an
# equi-join on the b-bit key instead of an n^2 cross join.
#
# PLANE COUNT IS THE CORPUS-SIZE KNOB (round-10 sf1 probe): with b
# fixed, expected bucket-pair count grows as n²/2^b — measured 102x
# pairs for 10x vectors at b=12 — so a deployment sizes b ~ log2(n) + c
# to hold expected bucket occupancy constant, exactly like every
# production LSH (the reference point: FAISS's nlist ∝ sqrt(n) plays
# the same role for IVF).  b is fixed at 12: the stored correctness
# hashes of q51's bucket values and admitted pairs were taken at b=12,
# and the oracle SQL is built from the same constant so the two sides
# can never disagree.  Measured at sf1 (20k vectors, unrolled
# plane dots, warm): b=12 -> 1.04M pairs / 4.7 s; b=16 -> 297k pairs /
# 3.3 s (the surviving pairs are genuinely similar cluster-mates —
# LSH concentrates real near-dups no matter how many bits).
# --------------------------------------------------------------------------
_N_PLANES = 12


def _plane_dot(engine: str, emb: str, p: int, dim64: bool = False) -> str:
    # i is cast to BIGINT before the multiply: Spark's sequence() yields
    # array<int>, and p*73856093 + i*19349663 exceeds INT32_MAX from
    # dim 69 (ANSI overflow error); DuckDB's generate_series is already
    # BIGINT, so without the cast the engines would also disagree
    w = (f"(((({p} * CAST(73856093 AS BIGINT))"
         f" + CAST(i AS BIGINT) * CAST(19349663 AS BIGINT)) % 2003) - 1001)")
    if engine == "spark":
        fold = (f"aggregate(zip_with(sequence(1, size({emb})), {emb},"
                f" (i, x) -> CAST({w} AS DOUBLE) * CAST(x AS DOUBLE)),"
                f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
        if not dim64:
            return fold
        # dim=64 fast path (scale-gated like _dot_spark): the weights
        # are compile-time constants, so the plane dot unrolls to a
        # straight-line literal-weighted sum — same left-fold op order,
        # bit-identical values, ~2.4x faster than the lambda fold
        # (measured on the sf1 probe's 20k-row signature build:
        # 3.2 -> 1.4 s)
        unroll = " + ".join(
            f"CAST({((p * 73856093 + i * 19349663) % 2003) - 1001} AS"
            f" DOUBLE) * CAST({emb}[{i - 1}] AS DOUBLE)"
            for i in range(1, 65))
        return (f"(CASE WHEN size({emb}) = 64 THEN"
                f" (CAST(0.0 AS DOUBLE) + {unroll}) ELSE {fold} END)")
    return (f"list_reduce(list_transform(generate_series(1, len({emb})),"
            f" i -> CAST({w} AS DOUBLE) * CAST({emb}[i] AS DOUBLE)),"
            f" (x, y) -> x + y)")


def _bucket(engine: str, emb: str, dim64: bool = False) -> str:
    return " + ".join(
        f"(CASE WHEN {_plane_dot(engine, emb, p, dim64)} > 0"
        f" THEN {2 ** p} ELSE 0 END)"
        for p in range(_N_PLANES)
    )


# --------------------------------------------------------------------------
# q53 — element-wise vector aggregation: per-label embedding centroid.
# posexplode -> per-(label, position) exact-decimal mean -> long form.
# Long form keeps the oracle hash on scalar columns; at scale this is the
# centroid-update step of distributed k-means (map-side partial sums of
# 64 dims per label — tiny shuffle).
# --------------------------------------------------------------------------
@query(
    "q53_embedding_centroids",
    f"""
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           -- widen float->DOUBLE before the decimal accumulation: Spark
           -- casts FLOAT to decimal via its shortest string repr, DuckDB
           -- via the exact binary value.  Scale 6 (the engine-wide davg
           -- helper) is deliberately coarse: float32s are dyadics, and at
           -- finer scales their exact expansions can tie at .5 exactly,
           -- where the engines' decimal rounding modes disagree.
           {sql_davg('CAST(embedding[i] AS DOUBLE)', 'avg_val')},
           COUNT(*) AS n_vectors
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, i
    """,
)
def q53_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    return exploded.groupBy("label", "pos").agg(
        davg(F.col("x").cast("double"), "avg_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


# --------------------------------------------------------------------------
# q52 — IVF-style ANN (coarse quantizer -> probe nprobe cells -> exact
# re-rank).  The centroids are training-free and deterministic: the
# _IVF_N_CENTROIDS lowest-vec_id non-zero vectors, unit-normalized.  Its
# metric is cosine, so assignment and probing are a BLAS cosine matmul
# with a fround6 argmax (below) — not common.np_nearest, which is the
# squared-distance kernel of k-means and PQ.  tests/test_ann.py pins
# recall against the exact q49 baseline and that only ~nprobe/
# n_centroids of the corpus is examined.
# --------------------------------------------------------------------------
_IVF_N_CENTROIDS = 16
_IVF_NPROBE = 4


# Round-12 oracle upgrade (shrinks the no-oracle set): the q52 path is
# FULLY deterministic — centroids are the first
# _IVF_N_CENTROIDS nonzero vectors by vec_id, assignment is an exact
# argmax, probing is top-_IVF_NPROBE by cosine — so the whole IVF
# algorithm replays in SQL and the driver's hash check applies.  Tie
# semantics: Spark's np.argmax returns the FIRST max (= smallest
# centroid index, i.e. smallest cid); ROW_NUMBER ... ORDER BY cos DESC,
# cid matches.  Candidate cosines go through the fround6 floor device
# before the top-k on BOTH sides (ADVICE r12: np.round half-to-even vs
# ROUND half-away-from-zero can split on a dyadic .5e-7 tie; the floor
# device shares halfway semantics, the q220 approach).
_ORACLE_Q52 = f"""
    WITH nz AS (
        SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
        FROM embeddings WHERE {_norm_sql('embedding')} > 0
    ),
    cent AS (
        SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        FROM nz ORDER BY vec_id LIMIT {_IVF_N_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, cid AS cluster FROM (
            SELECT n.vec_id, n.embedding, n.nrm, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {sql_fround6(
                           _dot_sql('n.embedding', 'c.cemb')
                           + ' / (n.nrm * c.cnrm)')} DESC,
                                c.cid) AS crk
            FROM nz n CROSS JOIN cent c) WHERE crk = 1
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qemb, nrm AS qnrm
        FROM nz WHERE vec_id < 10
    ),
    probed AS (
        SELECT query_id, qemb, qnrm, cid FROM (
            SELECT q.query_id, q.qemb, q.qnrm, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {sql_fround6(
                           _dot_sql('q.qemb', 'c.cemb')
                           + ' / (q.qnrm * c.cnrm)')} DESC,
                                c.cid) AS prk
            FROM q CROSS JOIN cent c) WHERE prk <= {_IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {sql_fround6(_dot_sql('p.qemb', 'a.embedding')
                            + ' / (p.qnrm * a.nrm)')} AS cosine
        FROM probed p JOIN assigned a ON a.cluster = p.cid
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, rk, cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id)
              AS rk
          FROM scored)
    WHERE rk <= 3
"""


@query("q52_ivf_ann", _ORACLE_Q52)
def q52_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    # The ONLY driver-side materialization is bounded: n_centroids + 10
    # query rows, never the corpus — the corpus is touched exclusively
    # by executor-side mapInPandas/applyInPandas below.
    cent_rows = (
        e.select("vec_id", "embedding")
        .filter(F.expr(_norm_spark("embedding")) > 0)
        .orderBy("vec_id").limit(_IVF_N_CENTROIDS).collect())
    cmat = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                     for r in cent_rows])
    cent = cmat / np.linalg.norm(cmat, axis=1)[:, None]

    # queries and candidates both exclude zero-norm vectors — the same
    # domain the oracle's nz CTE uses (r12 review: the asymmetry would
    # surface as NaN cosines sorting FIRST on a regenerated corpus)
    q_rows = (e.select("vec_id", "embedding")
              .filter(F.col("vec_id") < 10)
              .filter(F.expr(_norm_spark("embedding")) > 0)
              .orderBy("vec_id").collect())
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                      for r in q_rows])
    q_norms = np.linalg.norm(q_mat, axis=1)
    # clusters each query probes (nprobe nearest centroids).  Cosines
    # go through the fround6 floor device BEFORE the ranking and ties
    # resolve to the smallest centroid index (stable argsort on the
    # negated rounded row) — the q50/q154 argmax contract, mirrored by
    # the oracle's fround6 + (cos DESC, cid) ordering, so an exact or
    # near tie can never split the engines (r12 review + ADVICE r12:
    # the device, not np.round, on every rounding the oracle replays)
    q_cent = np_fround6((q_mat / q_norms[:, None]) @ cent.T)
    probed = np.argsort(-q_cent, axis=1, kind="stable")[:, :_IVF_NPROBE]
    probe_map: dict[int, list[int]] = {}
    for qi, clusters in enumerate(probed):
        for c in clusters:
            probe_map.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast(
        (q_ids, q_mat, q_norms, probe_map, cent))

    def assign(batches):
        _, _, _, _, cent_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:  # zero-row Arrow batch (q110 find, generalized)
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(m, axis=1)
            nzr = n > 0  # candidate domain = the oracle's nz CTE
            if not nzr.all():
                pdf, m, n = pdf[nzr], m[nzr], n[nzr]
            if len(m) == 0:
                yield pd.DataFrame({
                    "vec_id": pd.Series([], dtype="int64"),
                    "cluster": pd.Series([], dtype="int32"),
                    "embedding": pdf["embedding"]})
                continue
            # fround6 before argmax; first-max = smallest cid on ties
            # (matches the oracle's fround6 + cos DESC, cid ordering)
            cl = np.argmax(np_fround6((m / n[:, None]) @ cent_.T),
                           axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"], "cluster": cl.astype("int32"),
                "embedding": pdf["embedding"],
            })

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, cluster int, embedding array<float>")

    def rerank(key, pdf):
        (cluster,) = key
        q_ids_, q_mat_, q_norms_, probe_map_, _ = bc.value
        probing = probe_map_.get(int(cluster), [])
        if not probing:
            return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                                 "neighbor_id": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n = np.linalg.norm(m, axis=1)
        sims = (q_mat_[probing] / q_norms_[probing, None]) @ (m / n[:, None]).T
        # fround6 device, not Python round (half-to-even) — ADVICE r12
        sims = np_fround6(sims)
        rows = []
        cand_ids = pdf["vec_id"].to_numpy()
        for row_i, qi in enumerate(probing):
            for ci in range(len(cand_ids)):
                if cand_ids[ci] != q_ids_[qi]:
                    rows.append((q_ids_[qi], cand_ids[ci],
                                 float(sims[row_i, ci])))
        return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine"])

    scored = assigned.groupBy("cluster").applyInPandas(
        rerank, schema="query_id bigint, neighbor_id bigint, cosine double")
    return (_query_top3(scored, F.desc("cosine"))
            .select("query_id", "neighbor_id", "rk", "cosine"))


_ORACLE_Q51 = f"""
    WITH sig AS (
        SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm,
               CAST({_bucket('duckdb', 'embedding')} AS BIGINT) AS bucket
        FROM embeddings WHERE {_norm_sql('embedding')} > 0
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
           ROUND({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6)
               AS cosine
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
"""


@query("q51_srp_lsh_buckets", _ORACLE_Q51)
def q51_srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_spread: the 8 unrolled projection dots per row otherwise run
    # inside the one-split scan task (r16 A/B: 0.55x; no-op at scale)
    e = load_spread(spark, sf_dir, "embeddings")
    u = e.count() >= _UNROLL_MIN_ROWS  # gate the unrolled plane/pair dots
    sig = e.select(
        "vec_id", "embedding",
        F.expr(_norm_spark("embedding", u)).alias("nrm"),
        F.expr(f"CAST({_bucket('spark', 'embedding', u)} AS BIGINT)")
        .alias("bucket"),
    ).filter(F.col("nrm") > 0)  # zero-norm -> NaN cosine; see q49/q50 note
    a = sig.select(F.col("vec_id").alias("a_id"), F.col("bucket"),
                   F.col("embedding").alias("a_emb"), F.col("nrm").alias("a_nrm"))
    b = sig.select(F.col("vec_id").alias("b_id"), F.col("bucket").alias("b_bucket"),
                   F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm"))
    cos = (F.expr(_dot_spark("a_emb", "b_emb", u))
           / (F.col("a_nrm") * F.col("b_nrm")))
    return (
        a.join(b, (F.col("bucket") == F.col("b_bucket"))
               & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id", "bucket", F.round(cos, 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# q69 — int8 symmetric embedding quantization: the storage/serving
# compression step of an embedding pipeline (scale = max|x|, q_i =
# round(127 * x_i / scale) clamped to int8 range by construction).  All
# math is per-row array expressions in doubles — identical IEEE ops in
# both engines, so the oracle matches exactly with no tolerance; the
# digest columns (sum/min/max of the quantized vector) make the check a
# value check on every dimension without shipping arrays to the compare.
# --------------------------------------------------------------------------
@query(
    "q69_embedding_quantize",
    """
    WITH scaled AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale,
               embedding
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale)
                             AS BIGINT)) AS qv
        FROM scaled WHERE scale > 0
    )
    SELECT vec_id, scale,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           CAST(list_min(qv) AS BIGINT) AS min_q,
           CAST(list_max(qv) AS BIGINT) AS max_q,
           CAST(len(qv) AS INTEGER) AS n_dims
    FROM q
    """,
)
def q69_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    scaled = e.select(
        "vec_id", "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("scale"),
    ).filter(F.col("scale") > 0)
    # materialize qv once (HOF lambdas are not CSE'd across projections)
    qv = scaled.select(
        "vec_id", "scale",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 127.0 / F.col("scale"))
            .cast("long"),
        ).alias("qv"),
    )
    return qv.select(
        "vec_id", "scale",
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, v: a + v)
        .alias("sum_q"),
        F.array_min("qv").alias("min_q"),
        F.array_max("qv").alias("max_q"),
        F.size("qv").alias("n_dims"),
    )


# --------------------------------------------------------------------------
# q83 — per-dimension embedding statistics: mean / sample variance / range
# per vector dimension, plus a dead-dimension flag (variance below 1e-4)
# — the whitening-parameter / data-quality pass run before ANN indexing
# (a dead or collapsed dimension wastes index bits and flags an upstream
# encoder bug).
#
# Shape: posexplode to (dim, value) -> 64-group aggregate with map-side
# partials; all moments use the exact-decimal trick (values widened
# float32 -> double FIRST — float->decimal casting differs between
# engines, double->decimal does not).  At 100 TB this is one pass over
# the embedding column with a 64-row output.
# --------------------------------------------------------------------------
_DEAD_VAR = 1e-4


@query(
    "q83_embedding_stats",
    f"""
    WITH dims AS (
        SELECT CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT dim, COUNT(*) AS n, {sql_davg('v', 'mean')},
           ROUND({sql_dvar_expr('v')}, 6) AS variance,
           MIN(v) AS vmin, MAX(v) AS vmax,
           ROUND({sql_dvar_expr('v')}, 6) < {_DEAD_VAR} AS dead
    FROM dims GROUP BY dim
    """,
)
def q83_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    dims = (e.select(F.posexplode("embedding").alias("dim", "v"))
            .select("dim", F.col("v").cast("double").alias("v")))
    return (
        dims.groupBy("dim").agg(
            F.count(F.lit(1)).alias("n"),
            davg("v", "mean"),
            F.round(dvar_samp("v"), 6).alias("variance"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .withColumn("dead", F.col("variance") < _DEAD_VAR)
    )


# --------------------------------------------------------------------------
# q92 — deterministic random-projection dimensionality reduction (the
# Johnson-Lindenstrauss step before coarse clustering / visualization):
# project 64-dim embeddings onto 8 arithmetic pseudo-random hyperplanes —
# the q51 SRP plane family kept REAL-VALUED instead of sign-bucketed.
# Output is columnar (vec_id, p0..p7): one projection per column, no
# explode, no shuffle — the whole operator is a single codegen'd
# projection over the scan, the shape that rides free at 100 TB.
# Strict left-fold dot products with integer-arithmetic weights make the
# oracle bit-identical (the q49/q51 determinism contract).
# --------------------------------------------------------------------------
_RP_K = 8


@query(
    "q92_random_projection",
    f"""
    SELECT vec_id,
           {', '.join(f"ROUND({_plane_dot('duckdb', 'embedding', p)}, 6)"
                      f" AS p{p}" for p in range(_RP_K))}
    FROM embeddings
    """,
)
def q92_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        *[F.round(F.expr(_plane_dot("spark", "embedding", p)), 6)
          .alias(f"p{p}") for p in range(_RP_K)],
    )


# --------------------------------------------------------------------------
# q93 — full embedding covariance (upper triangle): the PCA/whitening
# input that completes q83's per-dimension diagonal.  cov(i,j) from
# order-independent raw moments: exact DECIMAL(38,12) sums of x_i·x_j
# and of each x_i (scale 12 keeps ~1e-12 product terms — scale 6 would
# truncate small covariances), combined in double with identical op
# order on both engines (the q08/q75 closed-form contract).
#
# Plan shape (production path, round 5): one mapInPandas pass computes a
# per-PARTITION Gram partial — X^T·X via one BLAS matmul per Arrow batch
# plus per-dim sums and the row count, packed into a single
# 2,080+64+1-double array — so the corpus is read exactly once and the
# wire carries 2,145 doubles per partition regardless of corpus size.
# Cross-partition reduction casts each partial to DECIMAL(38,12) before
# summing, so the reduce is order-independent (commutative decimal adds)
# even though the within-partition float64 accumulation is sequential.
# The previous codegen form (a 2,080x i<=j pair explode per vector) is
# kept verbatim as `q93_covariance_explode_twin` — it is the
# oracle-shaped twin the parity test pins the BLAS path against.
# --------------------------------------------------------------------------
_COV_DIM = 64
_DEC12 = "DECIMAL(38,12)"
_COV_NPAIR = _COV_DIM * (_COV_DIM + 1) // 2  # 2,080 upper-triangle cells

_ORACLE_Q93 = f"""
    WITH pr AS (
        SELECT u.i AS i, u.j AS j, u.v AS v FROM (
            SELECT unnest(flatten(list_transform(
                generate_series(1, {_COV_DIM}), i ->
                list_transform(generate_series(i, {_COV_DIM}), j ->
                    {{'i': i, 'j': j,
                      'v': CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[j] AS DOUBLE)}})))) AS u
            FROM embeddings
        )
    ),
    m AS (
        SELECT g.i AS i,
               CAST(SUM(CAST(CAST(embedding[g.i] AS DOUBLE)
                             AS {_DEC12})) AS DOUBLE) AS s
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, {_COV_DIM})) AS i) g
        GROUP BY g.i
    ),
    nn AS (SELECT COUNT(*) * 1.0 AS n FROM embeddings)
    SELECT CAST(pr.i AS BIGINT) AS i, CAST(pr.j AS BIGINT) AS j,
           -- + 0.0 canonicalizes IEEE negative zero (engines disagree on
           -- the sign of a rounded -1e-9 but -0.0 + 0.0 = +0.0 in both)
           ROUND((CAST(SUM(CAST(pr.v AS {_DEC12})) AS DOUBLE)
                  - mi.s * mj.s / nn.n) / (nn.n - 1), 6) + 0.0 AS cov
    FROM pr
    CROSS JOIN nn
    JOIN m mi ON mi.i = pr.i
    JOIN m mj ON mj.i = pr.j
    GROUP BY pr.i, pr.j, mi.s, mj.s, nn.n
"""


def _cov_posmap(spark: SparkSession) -> DataFrame:
    """Broadcastable (pos -> i, j) map over the row-major upper triangle.

    Dimension-sized (2,080 rows), driver-built like any constant dim table;
    the order matches both the explode twin's flatten order and
    numpy.triu_indices.
    """
    return spark.createDataFrame(
        [(pos, i, j) for pos, (i, j) in enumerate(
            (i, j) for i in range(1, _COV_DIM + 1)
            for j in range(i, _COV_DIM + 1))],
        "pos int, i int, j int")


def _cov_from_moments(spr: DataFrame, m: DataFrame, nn: DataFrame) -> DataFrame:
    """(i, j, cov) from upper-triangle product sums + per-dim sums + count.

    Shared final step of the BLAS path and the explode twin so the two can
    only differ in how the raw-moment sums were accumulated.
    """
    mi, mj = m.alias("mi"), m.alias("mj")
    cov = ((F.col("sxy") - F.col("mi.s") * F.col("mj.s") / F.col("n"))
           / (F.col("n") - 1))
    return (
        spr.crossJoin(F.broadcast(nn))
        .join(F.broadcast(mi), F.col("mi.i") == spr.i)
        .join(F.broadcast(mj), F.col("mj.i") == spr.j)
        .select(spr.i.cast("bigint").alias("i"),
                spr.j.cast("bigint").alias("j"),
                # + 0.0 canonicalizes IEEE negative zero (see oracle note)
                (F.round(cov, 6) + F.lit(0.0)).alias("cov"))
    )


def _cov_moments_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized reduced raw-moment table (pos, s) for sf_dir's
    embeddings — the checkpointed output of q93's one BLAS corpus pass
    (2,145 rows: 2,080 upper-triangle product sums + 64 per-dim sums +
    count).  r17 opt, the semdedup_assign_cached pattern: q93 AND q191
    (which audits redundancy over the SAME covariance) each re-ran the
    corpus pass per call for bit-identical moments; the memo runs it
    once per session and both consumers derive their outputs from the
    one dimension-sized frame."""
    from .dedup import _doc_frame_memo

    def build():
        return _cov_moment_reduce(
            load(spark, sf_dir, "embeddings").select("embedding"))

    return _doc_frame_memo(spark, sf_dir, "cov_moments", build,
                           table="embeddings")


@query("q93_embedding_covariance", _ORACLE_Q93)
def q93_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full covariance via per-partition BLAS Gram partials (production).

    One `mapInPandas` pass over the corpus: each Arrow batch is stacked
    into an (n_batch, 64) float64 matrix and contributes `X.T @ X` (one
    BLAS call), per-dim column sums and the row count to a running
    per-partition accumulator; the partition emits ONE row holding the
    2,080-cell upper triangle + 64 sums + count packed into a single
    array<double>.  That is a 2,145-double partial per partition instead
    of the explode twin's 2,080x row multiplication through codegen —
    at 100 TB the corpus streams through BLAS once and only
    dimension-sized partials ever hit the wire.

    The cross-partition reduce casts each partial to DECIMAL(38,12) and
    sums — commutative, order-independent — so the only float64
    reassociation vs the explode twin / DuckDB oracle is the sequential
    within-partition accumulation, ~1e-11 absolute on sums whose covs are
    rounded to 1e-6 (`tests/test_clustering.py` pins bit-parity after
    round(6) between both Spark paths on the fixture).
    """
    red = _cov_moments_cached(spark, sf_dir)
    return _cov_from_reduced(spark, red)


def _cov_moment_reduce(e: DataFrame) -> DataFrame:
    """One BLAS corpus pass over (embedding) -> checkpointed (pos, s)
    reduced moments — q93's accumulation stage, split out so the session
    memo can share it between q93 and q191."""
    dim, npair = _COV_DIM, _COV_NPAIR

    def gram_partials(batches):
        # mapInArrow, not mapInPandas: the pandas conversion of a
        # list<float> column materializes one tiny ndarray PER ROW
        # (measured 4s/100k vectors — it dominated the whole operator);
        # the Arrow ListArray's flat value buffer reshapes to (n, dim)
        # with zero per-row objects (measured ~20x faster end-to-end).
        import numpy as np
        import pyarrow as pa
        triu = np.triu_indices(dim)
        gram = np.zeros((dim, dim), dtype=np.float64)
        sums = np.zeros(dim, dtype=np.float64)
        n = 0
        for batch in batches:
            col = batch.column(0)
            if len(col) == 0:
                continue
            flat = col.flatten().to_numpy(zero_copy_only=False)
            x = flat.astype(np.float64).reshape(len(col), dim)
            gram += x.T @ x
            sums += x.sum(axis=0)
            n += len(col)
        if n:
            packed = np.concatenate(
                [gram[triu], sums, np.array([float(n)])])
            yield pa.RecordBatch.from_arrays(
                [pa.array([packed], type=pa.list_(pa.float64()))],
                names=["part"])

    partials = e.mapInArrow(gram_partials, schema="part array<double>")
    # Reduce the <=2,145-row-per-partition partials with decimal-exact,
    # order-independent sums; localCheckpoint the dimension-sized result
    # so the consumers don't re-run the corpus pass.
    return (partials.selectExpr("posexplode(part) AS (pos, v)")
            .groupBy("pos")
            .agg(F.sum(F.col("v").cast(_DEC12.lower()))
                 .cast("double").alias("s"))
            .localCheckpoint())


def _cov_from_reduced(spark: SparkSession, red: DataFrame) -> DataFrame:
    """(i, j, cov) from the reduced (pos, s) moment table."""
    dim, npair = _COV_DIM, _COV_NPAIR
    spr = (red.filter(F.col("pos") < npair)
           .select("pos", F.col("s").alias("sxy"))
           .join(F.broadcast(_cov_posmap(spark)), "pos"))
    m = (red.filter((F.col("pos") >= npair) & (F.col("pos") < npair + dim))
         .select((F.col("pos") - npair + 1).alias("i"), "s"))
    nn = red.filter(F.col("pos") == npair + dim).select(F.col("s").alias("n"))
    return _cov_from_moments(spr, m, nn)


def q93_covariance_explode_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-shaped twin: whole-stage-codegen pair explode (round-4 form).

    Explodes BARE products and recovers (i, j) from the flattened pair
    position via the broadcast 2,080-row constant map (struct build per
    pair measured 8.7s -> ~4s at sf0.1).  Kept as the pure-SQL-shape
    reference the BLAS production path is parity-tested against; not the
    registered execution (a 2,080x row multiplication per vector is the
    named scale-killer at 100 TB).
    """
    e = load(spark, sf_dir, "embeddings")
    prods = (f"flatten(transform(sequence(1, {_COV_DIM}), i -> "
             f"transform(sequence(i, {_COV_DIM}), j -> "
             f"CAST(element_at(embedding, i) AS DOUBLE)"
             f" * CAST(element_at(embedding, j) AS DOUBLE))))")
    pv = e.selectExpr(f"posexplode({prods}) AS (pos, v)")
    spr = (pv.groupBy("pos")
           .agg(F.sum(F.col("v").cast(_DEC12.lower()))
                .cast("double").alias("sxy"))
           .join(F.broadcast(_cov_posmap(spark)), "pos"))
    m = (e.selectExpr("posexplode(embedding) AS (p, x)")
         .groupBy((F.col("p") + 1).alias("i"))
         .agg(F.sum(F.col("x").cast("double").cast(_DEC12.lower()))
              .cast("double").alias("s")))
    nn = e.agg((F.count(F.lit(1)) * 1.0).alias("n"))
    return _cov_from_moments(spr, m, nn)


# --------------------------------------------------------------------------
# q110 — MMR-diversified top-k (maximal marginal relevance): retrieve a
# result set that is both relevant to the query and internally diverse,
# score(d) = LAMBDA*sim(q,d) - (1-LAMBDA)*max_{s in S} sim(d,s).
#
# Architecture = the canonical two-tier re-rank: a DISTRIBUTED recall pass
# scores the whole corpus against the query (broadcast query, zero corpus
# shuffle — the q49 plan) and keeps the top-C candidates via rank; the
# inherently-sequential greedy selection then runs on the C-candidate set
# only.  The driver materialization is C x dim floats (C = 50) — bounded
# like the IVF centroid pull, never the corpus.  At 100 TB, C stays
# O(k * diversity headroom); the recall pass is the only stage that sees
# the data.
#
# Greedy MMR is order-dependent by definition (selection i depends on the
# i-1 chosen before it) — but order-dependent is NOT non-replayable:
# since round 13 every pick goes through the fround6-rounded argmax with
# lowest-id ties, so the WHOLE K-pick sequence unrolls as K chained
# MATERIALIZED CTEs (pick_t = argmax over candidates of
# lam*rel - (1-lam)*max-fold-sim-to-sel_{t-1}) and q110 carries a full
# DuckDB oracle (the q52/q55 replay pattern; MATERIALIZED because the
# naive inlined chain references sel_{t-1} three times per step — 3^K
# expansion).  The pytest contract additionally checks exact equality
# against an independent numpy reference plus the diversity property
# (pairwise sim of MMR set < pairwise sim of plain top-k), and q220
# stays as the contract-level audit twin.
# --------------------------------------------------------------------------
_MMR_LAMBDA = 0.7
_MMR_K = 10
_MMR_CAND = 50


def _q110_oracle() -> str:
    """Full greedy-MMR replay: recall top-_MMR_CAND by raw fold rel (the
    operator's candidate window), pick 1 = relevance argmax, then K-1
    rounds of fround6(lam*rel - (1-lam)*MAX sim-to-selected) with
    (score DESC, vec_id) ties — bit-for-bit the operator's selection
    under the r13 rounded-argmax contract.  Cost: one linear rel scan
    plus K rounds over <= _MMR_CAND*K pairs (~0.15 s at sf0.01)."""
    k, n_cand, lam = _MMR_K, _MMR_CAND, _MMR_LAMBDA
    mmr = (f"CAST({lam} AS DOUBLE) * c.rel"
           f" - (CAST(1.0 AS DOUBLE) - CAST({lam} AS DOUBLE)) * mx.s")
    sim = _dot_sql("c2.embedding", "s.emb") + " / (c2.nrm * s.nrm)"
    parts = [f"""nz AS (
    SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
    FROM embeddings WHERE {_norm_sql('embedding')} > 0),
q AS (SELECT embedding AS qemb, nrm AS qnrm FROM nz WHERE vec_id = 0),
cand AS MATERIALIZED (
    SELECT * FROM (
        SELECT n.vec_id, n.embedding, n.nrm,
               {_dot_sql('q.qemb', 'n.embedding')} / (q.qnrm * n.nrm)
                   AS rel,
               ROW_NUMBER() OVER (ORDER BY
                   {_dot_sql('q.qemb', 'n.embedding')} / (q.qnrm * n.nrm)
                   DESC, n.vec_id) AS rk
        FROM nz n CROSS JOIN q WHERE n.vec_id <> 0)
    WHERE rk <= {n_cand}),
sel1 AS MATERIALIZED (SELECT vec_id, embedding AS emb, nrm, rel, 1 AS rank
         FROM cand WHERE rk = 1)"""]
    for t in range(2, k + 1):
        p = t - 1
        parts.append(f"""pick{t} AS (
    SELECT c.vec_id, {sql_fround6(mmr)} AS score
    FROM cand c JOIN (
        SELECT c2.vec_id, MAX({sim}) AS s
        FROM cand c2 CROSS JOIN sel{p} s
        GROUP BY c2.vec_id) mx ON mx.vec_id = c.vec_id
    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{p})
    ORDER BY score DESC, c.vec_id LIMIT 1),
sel{t} AS MATERIALIZED (
    SELECT * FROM sel{p}
    UNION ALL
    SELECT c.vec_id, c.embedding, c.nrm, c.rel, {t} AS rank
    FROM cand c JOIN pick{t} pk ON pk.vec_id = c.vec_id)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT CAST(rank AS INTEGER) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
       {sql_fround6('rel')} AS relevance
FROM sel{k}""")


def _mmr_pool(e: DataFrame, query_vec_id: int) -> DataFrame:
    """(vec_id, embedding, rel, rk): the global (rel DESC, vec_id) top
    _MMR_CAND of every nonzero vector by fold-cosine relevance to the query
    — ONE definition shared by q110 and its q220 audit, so the audit can
    never certify against a different candidate pool than the operator
    used (r12 review)."""
    withn = e.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    ).filter(F.col("nrm") > 0)
    q = (withn.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("embedding").alias("q_emb"),
                 F.col("nrm").alias("q_nrm")))
    scored = (
        withn.join(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "embedding",
                (F.expr(_dot_spark("q_emb", "embedding"))
                 / (F.col("q_nrm") * F.col("nrm"))).alias("rel"))
    )
    w = W.orderBy(F.desc("rel"), F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _MMR_CAND))


def mmr_cand_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-query MMR candidate pool (vec_id, embedding, rel,
    nrm, rk — _MMR_CAND rows), session-memoized (r16 optimization; the
    semdedup_assign_cached pattern via dedup's frame memo).  q110
    collects it for the greedy rerank and q220 re-reads it twice for
    the audit's engine-computed scores — previously each consumer
    re-ran the full scored scan + global top-50 window per query (3x
    per bench pass).  Checkpoint-bounded: _MMR_CAND rows."""
    from .dedup import _doc_frame_memo

    def build():
        cand = (_mmr_pool(load(spark, sf_dir, "embeddings"), 0)
                .withColumn("nrm", F.expr(_norm_spark("embedding"))))
        return (cand.localCheckpoint(eager=False),)

    return _doc_frame_memo(spark, sf_dir, "mmr_cand", build,
                           table="embeddings")[0]


@query("q110_mmr_diversify", _q110_oracle())
def q110_mmr_diversify(spark: SparkSession, sf_dir: str,
                       query_vec_id: int = 0) -> DataFrame:
    import numpy as np

    if query_vec_id == 0:
        cand = mmr_cand_cached(spark, sf_dir)
    else:  # non-default pool (tests): build uncached
        cand = _mmr_pool(load(spark, sf_dir, "embeddings"), query_vec_id)
    # BOUNDED collect: _MMR_CAND rows of (id, vec, rel) — the re-rank set.
    rows = cand.orderBy("rk").collect()
    if not rows:
        # empty candidate pool (corpus without the query vector, or all
        # zero-norm): emit an empty frame instead of letting
        # np.stack([]) raise — this is what makes q220's n_selected=0
        # sentinel actually reachable (ADVICE r13; value-identical on
        # any corpus containing vec 0, so no window force owed by the
        # q28/SemDeDup plan-only precedent)
        return spark.createDataFrame(
            [], "rank int, vec_id bigint, relevance double")
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    rel = np.array([r["rel"] for r in rows], dtype=np.float64)
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                    for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1)[:, None]
    sim = mat @ mat.T

    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < _MMR_K:
        if not selected:
            best = max(remaining, key=lambda i: (rel[i], -ids[i]))
        else:
            # the MMR score goes through the fround6 device BEFORE the
            # argmax, ties to the smallest id — the q50/q52/q154 argmax
            # contract, and exactly what q220's oracle replays for the
            # second pick (round-13 review: with unrounded scores, two
            # candidates in the same 1e-6 bucket could make the
            # operator and the audit oracle legitimately disagree)
            def mmr(i):
                raw = (_MMR_LAMBDA * rel[i] - (1 - _MMR_LAMBDA)
                       * max(sim[i][j] for j in selected))
                return float(np.floor(raw * 1000000.0 + 0.5) / 1000000.0)
            best = max(remaining, key=lambda i: (mmr(i), -ids[i]))
        selected.append(best)
        remaining.remove(best)

    # fround6 device on the emitted relevance (was Python round's
    # half-to-even) — the oracle replays the same device on the same
    # fold-computed rel, so the display column is hash-comparable too
    out = [(int(rank + 1), int(ids[i]),
            float(np.floor(rel[i] * 1000000.0 + 0.5) / 1000000.0))
           for rank, i in enumerate(selected)]
    return spark.createDataFrame(out, "rank int, vec_id bigint, relevance double")


# --------------------------------------------------------------------------
# q111 — product quantization (PQ) encode + ADC search: compress each
# 64-dim vector to M=16 one-byte codes (one per 4-dim subspace, k*=64
# centroids each) and answer top-k queries with asymmetric distance
# computation — per query, an M x k* lookup table of exact
# query-subvector-to-centroid distances; a candidate's approximate
# distance is M table lookups.  16x compression (256B float -> 16B codes).
# Parameters were CHOSEN BY MEASUREMENT on the near-random synthetic
# embeddings (recall@3: 8x16 -> 0.13, 16x64 -> 0.43, 32x64 -> 0.60);
# near-orthogonal data is PQ's worst case, so these are floor numbers —
# clustered real embeddings quantize far better.
#
# Codebooks train on a BOUNDED deterministic sample (first 256 vec_ids)
# with per-subspace Lloyd iterations on the driver — k* x 8 floats per
# subspace, the same footprint class as the IVF centroid pull.  Encoding
# is one common.np_nearest over the k* centroids per subspace per Arrow
# batch (mapInPandas) — no shuffle; the search scans codes, M gathers per
# row, then rank.  At 100 TB: codebooks persist offline, codes live
# columnar (8 bytes/vector — the whole point), scan stays map-side.
#
# FULLY ORACLED since round 14 (the no-oracle set closes 1 -> 0): the
# training is per-subspace Lloyd with deterministic first-k* init over a
# bounded n_train slice — exactly q55's replay shape at m x k* scale — so
# _q111_oracle() replays the whole pipeline in SQL: 10 chained
# assignment/update iterations per subspace (all 16 subspaces ride one
# relation keyed by s), then encode + ADC + rank.  The engine-neutral
# float contract, channel by channel:
#   * centroid means: the decimal(30,10)-exact device (quantize HALF_UP,
#     exact sum, cast-to-double, divide) on BOTH sides — the former
#     numpy xs[mask].mean() was the one genuinely un-replayable channel
#     (pairwise summation order is numpy-private), so training now uses
#     _dec_mean below, matching the oracle's
#     CAST(SUM(CAST(v AS DECIMAL(30,10))) AS DOUBLE)/COUNT(*) and q55's
#     proven Spark<->DuckDB decimal-cast equivalence;
#   * d2: the same ordered (x-c)^2 fold in index order on both sides
#     (common.np_nearest, the one numpy kernel k-means shares; DuckDB's
#     list_reduce is a left fold), fround6 BEFORE every argmin, ties to
#     the lowest cid — the shared q55 contract, so training, ADC tables
#     and encoding are bit-identical to the replay;
#   * ADC distances: M table gathers accumulated in subspace order on
#     both sides (list_reduce over list(d ORDER BY s)) — bit-identical
#     raw doubles, so the final rank needs no rounding device.
# The pytest contract additionally pins recall@k vs exact L2 and the
# compressed-domain distance error bound, and
# tests/test_numpy_crosscheck25.py triangulates the full replay
# (pure-Python folds + Decimal means, no Spark, no SQL).
# --------------------------------------------------------------------------
_PQ_M = 16         # subspaces
_PQ_KSTAR = 64     # centroids per subspace
_PQ_TRAIN_N = 256  # deterministic training sample (bounded driver pull)


def _dec_mean(vals) -> float:
    """decimal(30,10)-exact mean — the engines' shared mean device.

    Quantize each double to 10 decimal places HALF_UP (both Spark's and
    DuckDB's CAST(DOUBLE AS DECIMAL(30,10)) round half away from zero),
    sum EXACTLY in Decimal, cast the sum to double (correctly rounded),
    then IEEE-divide by the count — bit-identical to the oracle's
    CAST(SUM(CAST(v AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) and to
    q55's Spark-side decimal aggregation."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("1e-10")
    s = sum((Decimal(float(v)).quantize(q, ROUND_HALF_UP) for v in vals),
            Decimal(0))
    return float(s) / len(vals)


def pq_codebooks_cached(spark: SparkSession, sf_dir: str):
    """Session-memoized ``pq_train_codebooks``: q111 and its audit twin
    q218 train the same deterministic codebooks."""
    return memo(spark, "pq_codebooks", (f"{sf_dir}/embeddings.parquet",),
                lambda: pq_train_codebooks(spark, sf_dir))


def pq_train_codebooks(spark: SparkSession, sf_dir: str):
    """(_PQ_M, _PQ_KSTAR, sub_dim) float64 codebooks from per-subspace
    Lloyd (10 iterations, as ``_q111_oracle`` replays) on the first
    _PQ_TRAIN_N vectors (pure function of the corpus — deterministic,
    and since round 14 engine-REPLAYABLE: decimal-exact means + the
    fround6-argmin contract, see the block comment above)."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    rows = (e.select("vec_id", "embedding").orderBy("vec_id")
            .limit(_PQ_TRAIN_N).collect())
    x = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    dim = x.shape[1]
    sub = dim // _PQ_M
    books = np.empty((_PQ_M, _PQ_KSTAR, sub))
    for s in range(_PQ_M):
        xs = x[:, s * sub:(s + 1) * sub]
        cent = xs[:_PQ_KSTAR].copy()  # deterministic init: first k* rows
        for _ in range(10):
            # the contract the SQL replay's ROW_NUMBER mirrors
            assign = np_nearest(xs, cent)[0]
            for c in range(_PQ_KSTAR):
                mask = assign == c
                if mask.any():
                    # decimal-exact per-dim means (NOT numpy mean, whose
                    # pairwise summation order no SQL engine can replay)
                    cent[c] = [_dec_mean(xs[mask, p]) for p in range(sub)]
        books[s] = cent
    return books


def _pq_d2_sql(a: str, b: str) -> str:
    """Ordered (x-c)^2 fold over two DOUBLE sub-lists — the DuckDB twin
    of common.np_nearest's fold over the sub_dim axis."""
    return (f"list_reduce(list_transform(generate_series(1, len({a})),"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])),"
            f" (x, y) -> x + y)")


def _pq_assign_sql(name: str, src: str, cent: str) -> str:
    """Assignment CTE: per (s, vec_id), the fround6-argmin centroid —
    ROW_NUMBER over (fround6(d2) ASC, cid ASC), bit-for-bit
    common.np_nearest."""
    return f"""{name} AS MATERIALIZED (
    SELECT vec_id, s, cid FROM (
        SELECT v.vec_id, v.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.s, v.vec_id
                   ORDER BY {sql_fround6(_pq_d2_sql('v.sv', 'c.cv'))} ASC,
                            c.cid) AS rk
        FROM {src} v JOIN {cent} c ON c.s = v.s) WHERE rk = 1)"""


def _q111_oracle() -> str:
    """Full PQ replay in SQL (round 14 — the q55/q110 precedent closes
    the no-oracle set to zero): per-subspace Lloyd training (all m
    subspaces ride one relation keyed by s; 10 chained
    assignment/update iterations with decimal(30,10)-exact means and
    empty clusters carrying their previous centroid via per-dim
    COALESCE), then encode every corpus vector (fround6-argmin over the
    trained codebook), build the per-query ADC tables (RAW fold d2 —
    both engines compute the identical formula, so no device is needed
    past the argmins), accumulate the M gathers in subspace order, and
    rank (adc_dist ASC, neighbor_id ASC) per query.  Cost is linear in
    corpus size: n*m*k* fold-4 evals for the encode, the training is
    bounded at _PQ_TRAIN_N rows."""
    m, kstar, n_train = _PQ_M, _PQ_KSTAR, _PQ_TRAIN_N
    iters, n_query, k = 10, 10, 3
    sub_hi = m - 1
    parts = [f"""x AS (SELECT vec_id, embedding FROM embeddings),
ss AS (SELECT unnest(generate_series(0, {sub_hi})) AS s),
sv AS MATERIALIZED (
    SELECT x.vec_id, ss.s,
           list_transform(
               x.embedding[ss.s * (len(x.embedding) // {m}) + 1 :
                           (ss.s + 1) * (len(x.embedding) // {m})],
               e -> CAST(e AS DOUBLE)) AS sv
    FROM x CROSS JOIN ss),
tr AS MATERIALIZED (
    SELECT sv.* FROM sv
    WHERE vec_id IN (SELECT vec_id FROM x ORDER BY vec_id
                     LIMIT {n_train})),
trd AS MATERIALIZED (
    SELECT vec_id, s, u.pos AS pos, u.v AS v FROM (
        SELECT vec_id, s,
               unnest(list_transform(generate_series(1, len(sv)),
                   i -> {{'pos': i, 'v': sv[i]}})) AS u
        FROM tr)),
cb0 AS MATERIALIZED (
    SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1
               AS cid,
           sv AS cv
    FROM tr
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id)
            <= {kstar}),
cbd0 AS MATERIALIZED (
    SELECT s, cid, u.pos AS pos, u.v AS c FROM (
        SELECT s, cid,
               unnest(list_transform(generate_series(1, len(cv)),
                   i -> {{'pos': i, 'v': cv[i]}})) AS u
        FROM cb0))"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""{_pq_assign_sql(f'a{t}', 'tr', f'cb{p}')},
m{t} AS (
    SELECT a.s, a.cid, d.pos,
           CAST(SUM(CAST(d.v AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)
               AS m
    FROM a{t} a JOIN trd d ON d.vec_id = a.vec_id AND d.s = a.s
    GROUP BY a.s, a.cid, d.pos),
cbd{t} AS MATERIALIZED (
    SELECT p.s, p.cid, p.pos, COALESCE(m.m, p.c) AS c
    FROM cbd{p} p LEFT JOIN m{t} m
        ON m.s = p.s AND m.cid = p.cid AND m.pos = p.pos),
cb{t} AS MATERIALIZED (
    SELECT s, cid, list(c ORDER BY pos) AS cv
    FROM cbd{t} GROUP BY s, cid)""")
    parts.append(f"""{_pq_assign_sql('enc', 'sv', f'cb{iters}')},
tab AS MATERIALIZED (
    SELECT q.vec_id AS qid, q.s, c.cid,
           {_pq_d2_sql('q.sv', 'c.cv')} AS d
    FROM sv q JOIN cb{iters} c ON c.s = q.s
    WHERE q.vec_id < {n_query}),
adc AS (
    SELECT t.qid, e.vec_id,
           list_reduce(list(t.d ORDER BY t.s), (acc, v) -> acc + v)
               AS adc_dist
    FROM enc e JOIN tab t ON t.s = e.s AND t.cid = e.cid
    WHERE e.vec_id <> t.qid
    GROUP BY t.qid, e.vec_id)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT CAST(qid AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS neighbor_id,
       CAST(rk AS INTEGER) AS rk,
       {sql_fround6('adc_dist')} AS adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc_dist ASC, vec_id ASC) AS rk
      FROM adc)
WHERE rk <= {k}""")


@query("q111_pq_adc_topk", _q111_oracle())
def q111_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    books = pq_codebooks_cached(spark, sf_dir)
    m, kstar, sub = books.shape
    e = load(spark, sf_dir, "embeddings")
    q_rows = (e.filter(F.col("vec_id") < 10)
              .select("vec_id", "embedding").orderBy("vec_id").collect())
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                      for r in q_rows])
    # per-query ADC tables: exact fold distance from query subvector to
    # every subspace centroid — (n_query, m, kstar)
    tables = np.empty((len(q_ids), m, kstar))
    for s in range(m):
        tables[:, s, :] = np_nearest(q_mat[:, s * sub:(s + 1) * sub],
                                     books[s])[1]
    bc = spark.sparkContext.broadcast((books, q_ids, tables))

    def encode_and_score(batches):
        # Two-phase top-k: each Arrow batch emits only its LOCAL top-k per
        # query (<= 10*3 rows per batch, vectorized lexsort — no
        # per-row Python), and the global rank below merges the partials.
        # The (dist, neighbor_id) tie rule is identical in both phases, so
        # the merge is exact (the q85 two-phase argument).
        books_, q_ids_, tables_ = bc.value
        m_, kstar_, sub_ = books_.shape
        for pdf in batches:
            if len(pdf) == 0:  # zero-row Arrow batch (q110 find, generalized)
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), m_), dtype=np.int64)
            for s in range(m_):
                # the same kernel as training, mirrored by the oracle's
                # encode CTE
                codes[:, s] = np_nearest(x[:, s * sub_:(s + 1) * sub_],
                                         books_[s])[0]
            # ADC: approx dist of every row to every query via table gather
            # (n_q, n_rows) = sum over subspaces of table[q, s, code[row, s]]
            approx = np.zeros((len(q_ids_), len(x)))
            for s in range(m_):
                approx += tables_[:, s, codes[:, s]]
            vec_ids = pdf["vec_id"].to_numpy()
            qcol, ncol, dcol = [], [], []
            for qi in range(len(q_ids_)):
                keep = vec_ids != q_ids_[qi]
                ids_k, d_k = vec_ids[keep], approx[qi, keep]
                order = np.lexsort((ids_k, d_k))[:3]
                qcol.append(np.full(len(order), q_ids_[qi]))
                ncol.append(ids_k[order])
                dcol.append(d_k[order])
            yield pd.DataFrame({
                "query_id": np.concatenate(qcol),
                "neighbor_id": np.concatenate(ncol),
                "adc_dist": np.concatenate(dcol),
            })

    scored = e.select("vec_id", "embedding").mapInPandas(
        encode_and_score,
        schema="query_id bigint, neighbor_id bigint, adc_dist double")
    # fround6 device on the emitted distance (was F.round, which rounds
    # the shortest decimal repr — the q44 halfway split); adc_dist >= 0
    # so the device matches ROUND's display convention too.  The RANK
    # stays on the raw double: both engines compute it by the identical
    # fold, bit-for-bit.
    return (_query_top3(scored, F.asc("adc_dist"))
            .select("query_id", "neighbor_id", "rk",
                    fround6(F.col("adc_dist")).alias("adc_dist")))


# --------------------------------------------------------------------------
# q129 — 1-bit (sign) quantization + Hamming-distance top-k: the extreme
# end of the quantization family (q69 int8, q111 PQ): each 64-dim vector
# compresses to ONE 64-bit word (sign bits), search is bit_count(xor) —
# 256x compression and pure integer ops.  Unlike the trained PQ, the sign
# code is a closed-form function of the vector, so the whole search —
# codes, distances, ranks — hash-matches DuckDB exactly (an ORACLED
# approximate search; recall vs exact cosine is pinned in test_ann).
#
# Scale: codes live columnar at 8 bytes/vector; the scan is
# codegen-friendly integer xor/popcount with broadcast query codes, no
# Python anywhere; two-phase rank under AQE.
# --------------------------------------------------------------------------
def _sign_code(engine: str, emb: str) -> str:
    # bit i = 1 iff emb[i] > 0, folded to one BIGINT; 63 bits (dims 0-62)
    # so the sign bit stays clear — DuckDB raises on 1::BIGINT << 63,
    # and a 1-of-64-dim loss is noise at these recalls
    if engine == "spark":
        return (f"aggregate(sequence(0, 62), 0L, (acc, i) -> acc + "
                f"CASE WHEN element_at({emb}, i + 1) > 0 "
                f"THEN shiftleft(1L, i) ELSE 0L END)")
    return (f"list_reduce(list_transform(generate_series(0, 62), i -> "
            f"CASE WHEN {emb}[i + 1] > 0 THEN (1::BIGINT << i) "
            f"ELSE 0::BIGINT END), (x, y) -> x + y)")


_ORACLE_Q129 = f"""
    WITH coded AS (
        SELECT vec_id, {_sign_code('duckdb', 'embedding')} AS code
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, code AS qcode FROM coded
          WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               bit_count(xor(q.qcode, c.code)) AS hamming
        FROM q JOIN coded c ON c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rk, CAST(hamming AS BIGINT) AS hamming
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY hamming, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 3
"""


@query("q129_hamming_topk", _ORACLE_Q129)
def q129_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    coded = e.select(
        "vec_id", F.expr(_sign_code("spark", "embedding")).alias("code"))
    q = (coded.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("code").alias("qcode")))
    scored = (coded.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.bit_count(F.expr("qcode ^ code")).alias("hamming")))
    return (_query_top3(scored, F.asc("hamming"))
            .select("query_id", "neighbor_id", "rk",
                    F.col("hamming").cast("bigint").alias("hamming")))


# --------------------------------------------------------------------------
# q140 — embedding class-separation report: per label, the mean distance
# of member vectors to their class centroid (intra) vs the distance to
# the NEAREST other centroid (inter), and their ratio — the
# silhouette-style health check of a labeled embedding space (ratio <= 1
# means classes blur together, as they do on this near-random fixture —
# the metric exists to say so).
#
# Every reduction uses the engine's determinism toolkit: centroids are
# exact-decimal per-dimension means (the q53 contract), each squared
# deviation is pre-rounded then decimal-summed (64-term double sums are
# order-dependent otherwise), and the label-pair minimum breaks ties on
# the other label's id.  Shape: posexplode (flatMap), two grouped
# aggregations on (label[, pos]) keys, a 10x10 centroid self-join —
# dimension-table sized at any corpus scale.
# --------------------------------------------------------------------------
_ORACLE_Q140 = f"""
    WITH pos AS (
        SELECT vec_id, label, i AS pos,
               CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
        FROM pos GROUP BY label, pos
    ),
    intra AS (
        SELECT p.label, p.vec_id,
               sqrt(CAST(SUM(CAST(ROUND((p.x - c.c) * (p.x - c.c), 9)
                                 AS DECIMAL(30,9))) AS DOUBLE)) AS d
        FROM pos p JOIN cent c ON p.label = c.label AND p.pos = c.pos
        GROUP BY p.label, p.vec_id
    ),
    intra_avg AS (
        SELECT label, COUNT(*) AS n_vectors,
               CAST(SUM(CAST(ROUND(d, 9) AS DECIMAL(30,9))) AS DOUBLE)
                   / COUNT(*) AS avg_intra
        FROM intra GROUP BY label
    ),
    cpair AS (
        SELECT a.label AS la, b.label AS lb,
               sqrt(CAST(SUM(CAST(ROUND((a.c - b.c) * (a.c - b.c), 9)
                                 AS DECIMAL(30,9))) AS DOUBLE)) AS cd
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
        GROUP BY a.label, b.label
    ),
    nearest AS (
        SELECT la AS label, cd AS min_inter
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY la
                                           ORDER BY cd, lb) AS rk
              FROM cpair)
        WHERE rk = 1
    )
    SELECT i.label, CAST(i.n_vectors AS BIGINT) AS n_vectors,
           ROUND(i.avg_intra, 6) AS avg_intra,
           ROUND(n.min_inter, 6) AS min_inter,
           ROUND(n.min_inter / i.avg_intra, 6) AS separation
    FROM intra_avg i JOIN nearest n ON i.label = n.label
"""


@query("q140_class_separation", _ORACLE_Q140)
def q140_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    pos = e.select("vec_id", "label",
                   F.posexplode("embedding").alias("pos0", "xf")) \
        .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"),
                F.col("xf").cast("double").alias("x"))
    dec6 = lambda c: F.sum(c.cast("decimal(30,6)")).cast("double")  # noqa: E731
    dec9 = lambda c: F.sum(F.round(c, 9).cast("decimal(30,9)")) \
        .cast("double")  # noqa: E731
    cent = (pos.groupBy("label", "pos")
            .agg((dec6(F.col("x")) / F.count(F.lit(1))).alias("c")))
    intra = (pos.join(cent, ["label", "pos"])
             .groupBy("label", "vec_id")
             .agg(F.sqrt(dec9((F.col("x") - F.col("c"))
                              * (F.col("x") - F.col("c")))).alias("d")))
    intra_avg = (intra.groupBy("label")
                 .agg(F.count(F.lit(1)).alias("n_vectors"),
                      (dec9(F.col("d")) / F.count(F.lit(1)))
                      .alias("avg_intra")))
    a = cent.select(F.col("label").alias("la"), "pos",
                    F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), "pos",
                    F.col("c").alias("cb"))
    cpair = (a.join(b, "pos")
             .filter(F.col("la") != F.col("lb"))
             .groupBy("la", "lb")
             .agg(F.sqrt(dec9((F.col("ca") - F.col("cb"))
                              * (F.col("ca") - F.col("cb")))).alias("cd")))
    w = W.partitionBy("la").orderBy("cd", "lb")
    nearest = (cpair.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") == 1)
               .select(F.col("la").alias("label"),
                       F.col("cd").alias("min_inter")))
    return (intra_avg.join(nearest, "label")
            .select("label",
                    F.col("n_vectors").cast("bigint").alias("n_vectors"),
                    F.round("avg_intra", 6).alias("avg_intra"),
                    F.round("min_inter", 6).alias("min_inter"),
                    F.round(F.col("min_inter") / F.col("avg_intra"), 6)
                    .alias("separation")))


# --------------------------------------------------------------------------
# q148 — SemDeDup (semantic dedup by cluster-then-prune, after Abbas et
# al. 2023): coarse-cluster the corpus, then drop any vector whose
# cluster contains a more-senior (lower-id) vector within cosine >= 0.8.
# The point of the design is scale: the O(n^2) pruning pass runs WITHIN
# clusters only, so candidate pairs come from an equi-join on the cluster
# id — cost is sum over clusters of |c|^2, not n^2 — and cluster count is
# the knob that bounds |c|.
#
# Determinism: clusters come from the q52 training-free coarse quantizer
# (the K lowest-vec_id non-zero vectors as centroids) and every cosine is
# the strict left-fold dot (JVM codegen), bit-identical to the oracle's
# list_reduce — so unlike q52's BLAS argmax, the assignment IS
# SQL-reproducible and the operator gets a full value oracle.  Argmax tie
# broken by centroid id; prune seniority by vec_id.
#
# K is ADAPTIVE (round-10 sf1 probe): with K pinned at 16, cluster size
# grows as n/16 and the within-cluster verify join is Θ(n²/16) — the
# probe measured q148 at 18.3x wall for 10x data.  K = max(16, ⌊√n⌋)
# minimizes assignment + verify work (n·K + n²/K → 2·n^1.5) with no
# approximation, keeps K small at the sf0.01 correctness scale (n ~ 500
# -> K = 22),
# and is SQL-expressible, so the oracle computes the same K from the
# same count (DuckDB LIMIT accepts a scalar subquery).  This follows the
# SemDeDup paper's own scaling (cluster count grows with corpus size).
# --------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.8
_SEMDEDUP_K = 16  # floor; the effective K is max(16, isqrt(n_nonzero))

# The oracle twin of `max(_SEMDEDUP_K, isqrt(n))` over the nz CTE.  The
# floor is INTERPOLATED so editing _SEMDEDUP_K can never desynchronize
# the two sides (ADVICE r10).  FLOOR(SQRT(n)) == isqrt(n) exactly while
# n is representable in a double (n < 2^53): sqrt of a perfect square is
# exact in IEEE754 and FLOOR then matches isqrt; corpus counts at any
# reachable bench or production scale sit far below that bound.
_SEMDEDUP_K_SQL = (f"(SELECT GREATEST({_SEMDEDUP_K}, "
                   "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM nz)")


def _semdedup_k(n: int) -> int:
    import math
    return max(_SEMDEDUP_K, math.isqrt(n))


# Assign-side crossover (VERDICT r10 item 2): the broadcast argmax does
# n·K dot products against a K·dim broadcast.  With K = isqrt(n) and
# dim-64 float64 rows (~600 B each with ids/norms), the broadcast is
#   n = 1e8  -> K = 1e4   -> ~6 MB     (fine)
#   n = 1e10 -> K = 1e5   -> ~60 MB    (fine)
#   n = 1e12 -> K = 1e6   -> ~600 MB   (past Spark's broadcast comfort)
# and assign FLOPs grow as n^1.5.  Past _SEMDEDUP_TWO_LEVEL_K centroids
# (default 2^18 ≈ n = 6.9e10) the assignment switches to a two-level
# IVF-routed plan that reuses the q52 idea: route the K centroids and
# every vector to m = isqrt(K) super-centroids (broadcast m·dim — back
# to single-digit MB at any n), then argmax only within each vector's
# _SEMDEDUP_NPROBE nearest cells via a hash join on the cell id — no
# K-sized broadcast anywhere and assign FLOPs drop to ~n·√K·(1+nprobe)
# = Θ(n^1.25).  With nprobe >= m the routed path degenerates to the
# exact argmax (every cell probed) — the equivalence anchor
# tests/test_semdedup_twolevel.py pins; with the default nprobe it is
# the standard IVF approximation, which SemDeDup's own k-means
# assignment already accepts by construction.  Both knobs are
# deployment-side; the defaults keep every reachable test/bench scale
# on the exact broadcast path, so driver outputs never depend on them.
_SEMDEDUP_TWO_LEVEL_K = 1 << 18
_SEMDEDUP_NPROBE = 8

# Seed-selection physical strategy: `orderBy.limit(K)` compiles to
# TakeOrderedAndProject, whose single reduce merges partitions x K FULL
# rows — embeddings included (~600 B each).  At K = 2^18 on 1000
# partitions that is ~10^2 GB through one task, a cliff reached well
# below the routing crossover.  Past this (much smaller) gate the K
# smallest vec_ids come from the range-partition global-order kernel
# over the 8-byte ids alone, broadcast back onto nz (K x 8 B — 32 KB at
# the gate, 2 MB at the routing crossover).  Both strategies select the
# same K smallest unique ids, so outputs are bit-identical — a pure
# physical-plan choice, pinned by tests/test_semdedup_twolevel.py.
_SEMDEDUP_SEED_TAKEORDERED_MAX = 4096


def _semdedup_seeds(nz, k: int, n_nz: int):
    """The K seniority-ordered seed centroids as (cid, cemb, cnrm)."""
    sel = [F.col("vec_id").alias("cid"),
           F.col("embedding").alias("cemb"),
           F.col("nrm").alias("cnrm")]
    if k <= _SEMDEDUP_SEED_TAKEORDERED_MAX:
        return nz.orderBy("vec_id").limit(k).select(*sel)
    from .relational import global_row_number

    seed_ids = (global_row_number(nz.select("vec_id"), [("vec_id", True)],
                                  out_col="__rk", n_rows=n_nz)
                .filter(F.col("__rk") <= k).select("vec_id"))
    return nz.join(F.broadcast(seed_ids), "vec_id").select(*sel)


def _semdedup_cent_cells(cent, sup, u: bool):
    """Route every centroid to one super cell — (sid, cid, cemb, cnrm).

    No-empty-cell guarantee (ADVICE r11): a super-centroid can route
    AWAY from its own cell under an exact-cosine tie (e.g. duplicate
    embeddings) or an FP-rounding inversion of cos(s,s) vs a near-
    parallel rival, leaving cell ``sid`` empty — a vector probing only
    empty cells would then vanish from _semdedup_member's inner join,
    breaking the every-vector-assigned-exactly-once contract.  Union
    each super's own identity row back in: a cell gains at most one
    extra candidate, the probed-candidate SET at full probe is
    unchanged, so the nprobe >= m bit-identical anchor still holds;
    dropDuplicates is a K-row aggregate (tiny next to n).  Pinned by
    tests/test_semdedup_twolevel.py on a duplicate-super input.
    """
    from pyspark.sql.window import Window as W

    ccos = (F.expr(_dot_spark("cemb", "semb", u))
            / (F.col("cnrm") * F.col("snrm")))
    routed = (cent.crossJoin(F.broadcast(sup))
              .withColumn("crk", F.row_number().over(
                  W.partitionBy("cid")
                  .orderBy(F.desc(ccos), F.asc("sid"))))
              .filter(F.col("crk") == 1)
              .select("sid", "cid", "cemb", "cnrm"))
    own = (cent.join(F.broadcast(sup.select("sid")),
                     F.col("cid") == F.col("sid"))
           .select("sid", "cid", "cemb", "cnrm"))
    return routed.unionByName(own).dropDuplicates(["sid", "cid"])


def semdedup_assign_cached(spark: SparkSession, sf_dir: str):
    """(assign [vec_id, cid], n_nz, u) — the SemDeDup nearest-centroid
    assignment of sf_dir's embeddings, session-memoized (round 15; the
    kmeans_fit_cached pattern via dedup's frame memo).  q148 (the dedup
    itself) and q201 (the purity audit of the SAME clustering) each
    re-derived the seeds + argmax per query for bit-identical output;
    the memoized frame is two ints per vector, checkpoint-bounded
    exactly like the Lloyd fit's assignments.  Consumers join their own
    column projections back on vec_id, so schema differences between
    them (q201 carries label) stay out of the shared frame."""
    from .dedup import _doc_frame_memo

    def build():
        e = load(spark, sf_dir, "embeddings")
        nz = (e.select("vec_id", "embedding",
                       F.expr(_norm_spark("embedding")).alias("nrm"))
              .filter(F.col("nrm") > 0))
        n_nz = nz.count()
        u = n_nz >= _UNROLL_MIN_ROWS
        assign = (_semdedup_member(nz, n_nz, u)
                  .select("vec_id", "cid").localCheckpoint(eager=False))
        return assign, n_nz, u

    return _doc_frame_memo(spark, sf_dir, "semdedup_assign", build,
                           table="embeddings")


def _semdedup_member(nz, n_nz: int, u: bool):
    """Nearest-centroid assignment shared by q148/q201: every ``nz`` row
    plus its ``cid``, exact broadcast argmax below the crossover and
    two-level IVF-routed above it (see the crossover note above)."""
    import math

    from pyspark.sql.window import Window as W

    k = _semdedup_k(n_nz)
    cent = _semdedup_seeds(nz, k, n_nz)
    cos = (F.expr(_dot_spark("embedding", "cemb", u))
           / (F.col("nrm") * F.col("cnrm")))
    rk_w = W.partitionBy("vec_id").orderBy(F.desc(cos), F.asc("cid"))
    out_cols = [*nz.columns, "cid"]
    if k <= _SEMDEDUP_TWO_LEVEL_K:
        return (nz.crossJoin(F.broadcast(cent))
                .withColumn("rk", F.row_number().over(rk_w))
                .filter(F.col("rk") == 1)
                .select(*out_cols))
    # Routed regime (cent already comes from the kernel-based seed
    # selection — K > 2^18 implies K > the TakeOrdered gate)
    m = max(1, math.isqrt(k))
    nprobe = min(_SEMDEDUP_NPROBE, m)
    sup = (cent.orderBy("cid").limit(m)
           .select(F.col("cid").alias("sid"),
                   F.col("cemb").alias("semb"),
                   F.col("cnrm").alias("snrm")))
    cent_cells = _semdedup_cent_cells(cent, sup, u)
    # vectors -> their nprobe nearest super cells
    vcos = (F.expr(_dot_spark("embedding", "semb", u))
            / (F.col("nrm") * F.col("snrm")))
    vec_cells = (nz.crossJoin(F.broadcast(sup))
                 .withColumn("vrk", F.row_number().over(
                     W.partitionBy("vec_id")
                     .orderBy(F.desc(vcos), F.asc("sid"))))
                 .filter(F.col("vrk") <= nprobe)
                 .select(*nz.columns, "sid"))
    # argmax within the probed cells: a plain hash/sort-merge equi-join
    # on the cell id — the only broadcasts in the plan are the m supers
    return (vec_cells.join(cent_cells, "sid")
            .withColumn("rk", F.row_number().over(rk_w))
            .filter(F.col("rk") == 1)
            .select(*out_cols))

_ORACLE_Q148 = f"""
    WITH nz AS (
        SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
        FROM embeddings WHERE {_norm_sql('embedding')} > 0
    ),
    cent AS (
        SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        FROM nz ORDER BY vec_id LIMIT {_SEMDEDUP_K_SQL}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, cid,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_dot_sql('embedding', 'cemb')} / (nrm * cnrm)
                            DESC, cid) AS rk
        FROM nz CROSS JOIN cent
    ),
    member AS (SELECT vec_id, embedding, nrm, cid FROM assigned WHERE rk = 1),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM member a JOIN member b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
              >= {_SEMDEDUP_TAU}
    )
    SELECT m.cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM member m LEFT JOIN dropped d ON m.vec_id = d.vec_id
    GROUP BY m.cid
"""


@query("q148_semdedup", _ORACLE_Q148)
def q148_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    nz = (e.select("vec_id", "embedding",
                   F.expr(_norm_spark("embedding")).alias("nrm"))
          .filter(F.col("nrm") > 0))
    # adaptive K (see the block comment above): one cheap count sizes
    # the centroid set so cluster size — and with it the verify join's
    # Θ(Σ|c|²) — stays bounded as the corpus grows; the same count
    # gates the unrolled dot (_UNROLL_MIN_ROWS).  The assignment comes
    # from the session memo q201's purity audit shares — and member is
    # consumed THREE times below (a/b verify sides + the final join),
    # so the pinned two-int frame also stops the in-query recompute.
    assign, n_nz, u = semdedup_assign_cached(spark, sf_dir)
    member = nz.join(assign, "vec_id")
    a = member.select(F.col("cid").alias("cid"),
                      F.col("vec_id").alias("a_id"),
                      F.col("embedding").alias("aemb"),
                      F.col("nrm").alias("anrm"))
    b = member.select(F.col("cid").alias("cid"),
                      F.col("vec_id").alias("b_id"),
                      F.col("embedding").alias("bemb"),
                      F.col("nrm").alias("bnrm"))
    pcos = (F.expr(_dot_spark("aemb", "bemb", u))
            / (F.col("anrm") * F.col("bnrm")))
    dropped = (a.join(b, "cid")
               .filter(F.col("a_id") < F.col("b_id"))
               .filter(pcos >= _SEMDEDUP_TAU)
               .select(F.col("b_id").alias("vec_id")).distinct()
               .withColumn("__d", F.lit(1)))
    return (member.join(dropped, "vec_id", "left")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 F.count("__d").cast("bigint").alias("n_dropped"),
                 (F.count(F.lit(1)) - F.count("__d"))
                 .cast("bigint").alias("n_kept")))


# --------------------------------------------------------------------------
# q154 — leave-one-out 1-NN label accuracy: for every vector, find its
# nearest neighbor by cosine (excluding itself) and score whether the
# neighbor's label matches — the standard embedding-quality probe run
# before a model trains on retrieved neighbors.
#
# Physical strategy: the q50 block-pair BLAS tiling (bounded task memory,
# sqrt-replication shuffle) with a per-tile top-1 partial reduce — each
# tile emits at most |tile_a| rows, then a global (cos desc, b_id) argmax
# per vector.  Determinism across BLAS-vs-SQL: cosines are rounded to 6
# before the argmax and ties break by neighbor id, the q50 contract.
# Output is per-label accuracy — label-count rows, corpus-size invariant.
# --------------------------------------------------------------------------
_ORACLE_Q154 = f"""
    WITH nz AS (
        SELECT vec_id, label, embedding, {_norm_sql('embedding')} AS nrm
        FROM embeddings WHERE {_norm_sql('embedding')} > 0
    ),
    scored AS (
        SELECT a.vec_id, a.label,
               b.label AS nlabel,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND({_dot_sql('a.embedding', 'b.embedding')}
                                  / (a.nrm * b.nrm), 6) DESC, b.vec_id) AS rk
        FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(CASE WHEN nlabel = label THEN 1 END) AS BIGINT)
               AS n_correct,
           ROUND(CAST(COUNT(CASE WHEN nlabel = label THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM scored WHERE rk = 1
    GROUP BY label
"""


@query("q154_knn_label_accuracy", _ORACLE_Q154)
def q154_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window as W

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label",
                                                 "embedding")
    n = e.count()
    n_blocks = max(1, math.ceil(n / _Q50_BLOCK_ROWS))
    blocked = e.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int"))
    pairs = F.expr(
        f"transform(sequence(0, {n_blocks - 1}),"
        f" o -> struct(least(blk, o) AS i, greatest(blk, o) AS j))")
    rep = (blocked.withColumn("p", F.explode(pairs))
           .select("vec_id", "label", "embedding", "blk",
                   F.col("p.i").alias("bi"), F.col("p.j").alias("bj")))

    def tile_top1(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        empty = pd.DataFrame({
            "vec_id": pd.Series([], dtype="int64"),
            "label": pd.Series([], dtype="int32"),
            "cosine": pd.Series([], dtype="float64"),
            "n_id": pd.Series([], dtype="int64"),
            "n_label": pd.Series([], dtype="int32")})

        def side(mask):
            ids = pdf["vec_id"].to_numpy()[mask]
            lbl = pdf["label"].to_numpy()[mask]
            if len(ids) == 0:
                return ids, lbl, None, None
            m = np.stack(pdf["embedding"].to_numpy()[mask]).astype(np.float64)
            nrm = np.sqrt((m * m).sum(axis=1))
            keep = nrm > 0
            return ids[keep], lbl[keep], m[keep], nrm[keep]

        blk = pdf["blk"].to_numpy()
        a_ids, a_lbl, a_mat, a_nrm = side(blk == bi)
        if bi == bj:
            b_ids, b_lbl, b_mat, b_nrm = a_ids, a_lbl, a_mat, a_nrm
        else:
            b_ids, b_lbl, b_mat, b_nrm = side(blk == bj)
        if len(a_ids) == 0 or len(b_ids) == 0:
            return empty
        sims = np.round((a_mat @ b_mat.T) / np.outer(a_nrm, b_nrm), 6)

        def local_top1(q_ids, q_lbl, s, c_ids, c_lbl):
            # mask self-pairs, then per row: max cosine, tie -> min b_id.
            # Vectorized tiebreak: reorder candidate COLUMNS by ascending
            # id — np.argmax returns the FIRST max, which is then the
            # minimum id among ties.  (The original per-row Python loop
            # was the q154 stress hotspot.)
            order = np.argsort(c_ids, kind="stable")
            c_ids, c_lbl, s = c_ids[order], c_lbl[order], s[:, order]
            self_mask = q_ids[:, None] == c_ids[None, :]
            s = np.where(self_mask, -np.inf, s)
            j = np.argmax(s, axis=1)
            best = s[np.arange(s.shape[0]), j]
            keep = np.isfinite(best)
            return (q_ids[keep], q_lbl[keep], best[keep],
                    c_ids[j[keep]], c_lbl[j[keep]])

        parts = [local_top1(a_ids, a_lbl, sims, b_ids, b_lbl)]
        if bi != bj:
            parts.append(local_top1(b_ids, b_lbl, sims.T, a_ids, a_lbl))
        v = np.concatenate([p[0] for p in parts])
        if len(v) == 0:
            return empty
        return pd.DataFrame({
            "vec_id": v.astype("int64"),
            "label": np.concatenate([p[1] for p in parts]).astype("int32"),
            "cosine": np.concatenate([p[2] for p in parts]).astype("float64"),
            "n_id": np.concatenate([p[3] for p in parts]).astype("int64"),
            "n_label": np.concatenate([p[4] for p in parts]).astype("int32"),
        })

    partials = rep.groupBy("bi", "bj").applyInPandas(
        tile_top1,
        schema="vec_id bigint, label int, cosine double, n_id bigint, "
               "n_label int")
    rk = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("n_id")))
    best = partials.withColumn("rk", rk).filter(F.col("rk") == 1)
    return (best.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 F.count(F.when(F.col("n_label") == F.col("label"), 1))
                 .cast("bigint").alias("n_correct"),
                 F.round(F.count(F.when(F.col("n_label") == F.col("label"),
                                        1)).cast("double")
                         / F.count(F.lit(1)), 6).alias("accuracy")))


# --------------------------------------------------------------------------
# q191 — dimension-redundancy index: off-diagonal covariance mass over
# on-diagonal variance mass, from the q93 covariance (production Gram
# path).  Near-0 means dimensions carry independent signal; large means
# the embedding wastes width — the one-number screen before paying for
# a JL projection (q92) or PQ (q111).
#
# Shape: a 2,080-row aggregate over q93's output — corpus cost IS q93;
# this adds one tiny reduce with round-9 decimal |cov| sums.
# --------------------------------------------------------------------------
_ORACLE_Q191 = f"""
    WITH cov AS ({_ORACLE_Q93})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN i = j
                         THEN CAST(ROUND(abs(cov), 9) AS DECIMAL(30,9))
                         END) AS DOUBLE) AS diag_mass,
           CAST(SUM(CASE WHEN i < j
                         THEN CAST(ROUND(2 * abs(cov), 9) AS DECIMAL(30,9))
                         END) AS DOUBLE) AS offdiag_mass,
           ROUND(CAST(SUM(CASE WHEN i < j
                               THEN CAST(ROUND(2 * abs(cov), 9)
                                         AS DECIMAL(30,9)) END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN i = j
                                 THEN CAST(ROUND(abs(cov), 9)
                                           AS DECIMAL(30,9)) END)
                        AS DOUBLE), 6) AS redundancy_index
    FROM cov
"""


@query("q191_dim_redundancy", _ORACLE_Q191)
def q191_dim_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    cov = q93_embedding_covariance(spark, sf_dir)
    diag = F.when(F.col("i") == F.col("j"),
                  F.round(F.abs(F.col("cov")), 9).cast("decimal(30,9)"))
    off = F.when(F.col("i") < F.col("j"),
                 F.round(2 * F.abs(F.col("cov")), 9).cast("decimal(30,9)"))
    return (cov.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                    F.sum(diag).cast("double").alias("diag_mass"),
                    F.sum(off).cast("double").alias("offdiag_mass"))
            .select("n_cells", "diag_mass", "offdiag_mass",
                    F.round(F.col("offdiag_mass") / F.col("diag_mass"), 6)
                    .alias("redundancy_index")))


# --------------------------------------------------------------------------
# q201 — cluster label purity: for the q148 coarse clusters (fold-dot
# assignment, SQL-reproducible), the majority-label share per cluster
# and corpus-weighted overall purity.  The standard external clustering
# evaluation — run against any labeled slice to decide whether the
# coarse quantizer respects semantics or just geometry.
# --------------------------------------------------------------------------
_ORACLE_Q201 = f"""
    WITH nz AS (
        SELECT vec_id, label, embedding, {_norm_sql('embedding')} AS nrm
        FROM embeddings WHERE {_norm_sql('embedding')} > 0
    ),
    cent AS (
        SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        FROM nz ORDER BY vec_id LIMIT {_SEMDEDUP_K_SQL}
    ),
    assigned AS (
        SELECT vec_id, label, cid,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_dot_sql('embedding', 'cemb')} / (nrm * cnrm)
                            DESC, cid) AS rk
        FROM nz CROSS JOIN cent
    ),
    member AS (SELECT vec_id, label, cid FROM assigned WHERE rk = 1),
    lc AS (
        SELECT cid, label, COUNT(*) AS n FROM member GROUP BY cid, label
    ),
    top AS (
        SELECT cid, MAX(n) AS n_major, SUM(n) AS n_total FROM lc
        GROUP BY cid
    )
    SELECT cid, CAST(n_total AS BIGINT) AS n_vectors,
           CAST(n_major AS BIGINT) AS n_majority,
           ROUND(CAST(n_major AS DOUBLE) / n_total, 6) AS purity
    FROM top
"""


@query("q201_cluster_label_purity", _ORACLE_Q201)
def q201_cluster_label_purity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    nz = (e.select("vec_id", "label", "embedding",
                   F.expr(_norm_spark("embedding")).alias("nrm"))
          .filter(F.col("nrm") > 0))
    # same adaptive-K clustering as q148 — literally: the session-
    # memoized assignment, so purity audits the EXACT member set the
    # dedup uses (r15 memo; label joins back from this query's own nz)
    assign, _n_nz, _u = semdedup_assign_cached(spark, sf_dir)
    member = nz.join(assign, "vec_id").select("vec_id", "label", "cid")
    lc = member.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    return (lc.groupBy("cid")
            .agg(F.sum("n").cast("bigint").alias("n_vectors"),
                 F.max("n").cast("bigint").alias("n_majority"),
                 F.round(F.max("n").cast("double") / F.sum("n"), 6)
                 .alias("purity")))


# --------------------------------------------------------------------------
# q203 — int8 quantization reconstruction error: per-vector mean |x -
# dequant(quant(x))| under q69's symmetric scheme, summarized corpus-
# wide.  The acceptance test for shipping quantized embeddings: if p95
# error is small relative to the scale, ANN on int8 is safe (q111's ADC
# premise, now measured).
#
# Shape: pure per-row array arithmetic (quantize, dequantize, fold the
# absolute error — identical IEEE both engines via the q69 contract),
# then one exact-percentile aggregate.
# --------------------------------------------------------------------------
_Q203_ERR_SPARK = (
    "aggregate(transform(embedding, x -> "
    "abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) * 127.0 / scale)"
    " * scale / 127.0)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    " / size(embedding)")
_Q203_ERR_DUCK = (
    "list_reduce(list_transform(embedding, x -> "
    "abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) * 127.0 / scale)"
    " * scale / 127.0)), (a, v) -> a + v)"
    " / len(embedding)")


@query(
    "q203_quantization_error",
    f"""
    WITH scaled AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale,
               embedding
        FROM embeddings
    ),
    err AS (
        SELECT vec_id, ROUND({_Q203_ERR_DUCK}, 9) AS mae,
               ROUND({_Q203_ERR_DUCK} / (scale / 127.0), 9) AS rel_mae
        FROM scaled WHERE scale > 0
    )
    ,{sql_spark_pct('err', 'mae', [('0.95', '__p95')])}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(mae AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
               AS avg_mae,
           MIN(__p95) AS p95_mae,
           ROUND(MAX(rel_mae), 6) AS max_rel_mae
    FROM err, pct
    """,
)
def q203_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    scaled = e.select(
        "vec_id", "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("scale")).filter(F.col("scale") > 0)
    err = scaled.select(
        F.round(F.expr(_Q203_ERR_SPARK), 9).alias("mae"),
        F.round(F.expr(_Q203_ERR_SPARK)
                / (F.col("scale") / 127.0), 9).alias("rel_mae"))
    return err.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        (F.sum(F.col("mae").cast("decimal(30,9)")).cast("double")
         / F.count(F.lit(1))).alias("avg_mae"),
        F.percentile("mae", F.lit(0.95)).alias("p95_mae"),
        F.round(F.max("rel_mae"), 6).alias("max_rel_mae"))


# --------------------------------------------------------------------------
# q208 — embedding-norm QA per label: mean/min/max L2 norm and the
# zero-norm count for each class.  Norm drift across classes breaks
# dot-product rankers silently (unnormalized retrieval favors the
# long-norm class) — this is the one-scan check; fold-norm arithmetic
# keeps it oracle-exact.
# --------------------------------------------------------------------------
_ORACLE_Q208 = f"""
    WITH n AS (
        SELECT label, {_norm_sql('embedding')} AS nrm FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(CASE WHEN nrm = 0 THEN 1 END) AS BIGINT)
               AS n_zero_norm,
           CAST(SUM(CAST(ROUND(nrm, 9) AS DECIMAL(30,9))) AS DOUBLE)
               / COUNT(*) AS avg_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n GROUP BY label
"""


@query("q208_embedding_norm_qa", _ORACLE_Q208)
def q208_embedding_norm_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    n = e.select("label", F.expr(_norm_spark("embedding")).alias("nrm"))
    return (n.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 F.count(F.when(F.col("nrm") == 0, 1)).cast("bigint")
                 .alias("n_zero_norm"),
                 (F.sum(F.round(F.col("nrm"), 9).cast("decimal(30,9)"))
                  .cast("double") / F.count(F.lit(1))).alias("avg_norm"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm")))


# --------------------------------------------------------------------------
# q218 — PQ recall audit (round-12 no-oracle shrink; since round 14 q111
# itself carries a full replay oracle, so this twin is defense in depth
# rather than the only hash signal): q111's QUALITY CONTRACT is
# deterministic per dataset — this companion puts that
# contract on the driver's hash-verified path.  It computes the exact
# L2 top-k for the same 10 queries JVM-side (fold arithmetic — the same
# left-fold the DuckDB oracle uses, so `exact_pairs_sum` is genuine
# cross-engine content, not self-certification), joins q111's ADC picks
# against it, and certifies recall >= the measured floor (0.43 at
# 16x64 on near-random embeddings; floor 0.30 = the test_ann contract
# with margin).  A broken encoder/ADC path flips the flag and
# hash-mismatches the oracle's literal 1.
# --------------------------------------------------------------------------
_Q218_RECALL_FLOOR = 0.30


@query(
    "q218_pq_recall_audit",
    f"""
    WITH nz AS (
        SELECT vec_id, embedding FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qemb
          FROM nz WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               list_reduce(list_transform(generate_series(1, len(q.qemb)),
                   i -> (CAST(q.qemb[i] AS DOUBLE)
                         - CAST(n.embedding[i] AS DOUBLE))
                        * (CAST(q.qemb[i] AS DOUBLE)
                           - CAST(n.embedding[i] AS DOUBLE))),
                   (x, y) -> x + y) AS d2
        FROM q CROSS JOIN nz n WHERE n.vec_id <> q.query_id
    ),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY d2, neighbor_id) AS rk
            FROM scored) WHERE rk <= 3
    )
    SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(3 AS BIGINT) AS k,
           CAST(SUM(query_id * 100000 + neighbor_id) AS BIGINT)
               AS exact_pairs_sum,
           CAST(1 AS BIGINT) AS recall_ok
    FROM topk
    """,
)
def q218_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qemb")))
    scored = (e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
              .join(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.expr(_d2_spark("qemb", "embedding")).alias("d2")))
    exact = (_query_top3(scored, F.asc("d2"))
             .select("query_id", "neighbor_id"))
    adc = q111_pq_adc_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(adc, ["query_id", "neighbor_id"]).count()
    agg = exact.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.lit(3).cast("bigint").alias("k"),
        F.sum(F.col("query_id") * 100000 + F.col("neighbor_id"))
        .cast("bigint").alias("exact_pairs_sum"),
        F.count(F.lit(1)).alias("_n_exact"))
    return agg.select(
        "n_queries", "k", "exact_pairs_sum",
        (F.lit(hits) / F.col("_n_exact") >= _Q218_RECALL_FLOOR)
        .cast("bigint").alias("recall_ok"))


# --------------------------------------------------------------------------
# q220 — MMR audit (round-12 no-oracle shrink; sharpened round 13):
# q110's greedy selection is driver-side and order-dependent (rows-only
# by nature), but its anchor invariants are not:
#   * the FIRST pick is the plain relevance argmax (oracle: fold cosine,
#     same tie-break);
#   * the SECOND pick, GIVEN the first, is the MMR argmax
#     lam*rel - (1-lam)*sim(i, first) — one more fold-cosine per
#     candidate, still fully deterministic, so a broken diversity term
#     can no longer pass (VERDICT r12 task 6);
#   * every pick comes from the top-_MMR_CAND pool; exactly K selected.
# The Spark side emits the OPERATOR's actual picks with engine-computed
# (fold + fround6) scores; the oracle recomputes both argmaxes from
# scratch — any drift in either pick hash-mismatches the driver row.
# Empty/missing query vector (ADVICE r12): Spark emits a sentinel row
# (n_selected=0) instead of raising, so a regenerated corpus without
# vec 0 surfaces as a clean audit mismatch, never a Python crash.
# --------------------------------------------------------------------------
_Q220_MMR_SQL = (
    f"CAST({_MMR_LAMBDA} AS DOUBLE) * c.rel"
    f" - (CAST(1.0 AS DOUBLE) - CAST({_MMR_LAMBDA} AS DOUBLE))"
    f" * ({_dot_sql('c.embedding', 'f.femb')} / (c.nrm * f.fnrm))")

_Q220_SENTINEL = (-1, 0.0, -1, 0.0, 0, 0)


@query(
    "q220_mmr_audit",
    f"""
    WITH nz AS (
        SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm
        FROM embeddings WHERE {_norm_sql('embedding')} > 0
    ),
    q AS (SELECT embedding AS qemb, nrm AS qnrm FROM nz WHERE vec_id = 0),
    scored AS (
        SELECT n.vec_id, n.embedding, n.nrm,
               {_dot_sql('q.qemb', 'n.embedding')} / (q.qnrm * n.nrm) AS rel
        FROM nz n CROSS JOIN q WHERE n.vec_id <> 0
    ),
    cand AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rk
            FROM scored) WHERE rk <= {_MMR_CAND}
    ),
    first AS (
        SELECT vec_id AS fid, embedding AS femb, nrm AS fnrm, rel AS frel
        FROM cand WHERE rk = 1
    ),
    second AS (
        SELECT c.vec_id AS sid, {sql_fround6(_Q220_MMR_SQL)} AS smmr
        FROM cand c CROSS JOIN first f WHERE c.vec_id <> f.fid
        ORDER BY smmr DESC, c.vec_id LIMIT 1
    )
    SELECT CAST(f.fid AS BIGINT) AS first_pick_id,
           {sql_fround6('f.frel')} AS first_pick_rel,
           CAST(s.sid AS BIGINT) AS second_pick_id,
           s.smmr AS second_pick_mmr,
           CAST({_MMR_K} AS BIGINT) AS n_selected,
           CAST(1 AS BIGINT) AS picks_from_candidates
    FROM first f CROSS JOIN second s
    """,
)
def q220_mmr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import fround6

    schema = ("first_pick_id bigint, first_pick_rel double, "
              "second_pick_id bigint, second_pick_mmr double, "
              "n_selected bigint, picks_from_candidates bigint")
    sel = q110_mmr_diversify(spark, sf_dir).orderBy("rank").collect()
    if not sel:  # ADVICE r12: sentinel, not IndexError
        return spark.createDataFrame([_Q220_SENTINEL], schema)

    # the SAME candidate relation q110 ranks (shared session memo — the
    # audit cannot drift from the operator); all emitted scores go
    # through the fold + fround6 device, bit-identical to the oracle's
    cand = mmr_cand_cached(spark, sf_dir)
    cand_rows = cand.select("vec_id", fround6(F.col("rel")).alias("frel")
                            ).collect()  # bounded: _MMR_CAND rows
    cand_ids = {r["vec_id"] for r in cand_rows}
    picks_ok = int(all(r["vec_id"] in cand_ids for r in sel))

    first_id = int(sel[0]["vec_id"])
    # guarded lookup (ADVICE r12: no StopIteration) — an out-of-pool
    # first pick keeps picks_ok=0 and emits a 0.0 score, which the
    # oracle's independent argmax then hash-mismatches
    first_rel = next((float(r["frel"]) for r in cand_rows
                      if r["vec_id"] == first_id), 0.0)

    second_id, second_mmr = -1, 0.0
    if len(sel) > 1:
        # engine-side MMR score of the operator's own second pick,
        # GIVEN the operator's first pick: fold-dot + fround6 so the
        # value is bit-comparable with the oracle's from-scratch argmax
        fp = (cand.filter(F.col("vec_id") == first_id)
              .select(F.col("embedding").alias("femb"),
                      F.col("nrm").alias("fnrm")))
        sim = (F.expr(_dot_spark("embedding", "femb"))
               / (F.col("nrm") * F.col("fnrm")))
        mmr = fround6(F.lit(_MMR_LAMBDA) * F.col("rel")
                      - F.lit(1.0 - _MMR_LAMBDA) * sim)
        second_id = int(sel[1]["vec_id"])
        srow = (cand.join(F.broadcast(fp))
                .filter(F.col("vec_id") == second_id)
                .select(mmr.alias("mmr")).collect())  # bounded: <=1 row
        second_mmr = float(srow[0]["mmr"]) if srow else 0.0

    return spark.createDataFrame(
        [(first_id, first_rel, second_id, second_mmr, len(sel), picks_ok)],
        schema)
