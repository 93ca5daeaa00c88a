"""Mergeable sketches: count-min frequency estimation and KMV distinct
counting.

Complements the existing sketch surface (q28 HLL distinct counts, q34
quantile sketches) with two more family members — and unlike those, these
are fully ORACLED: each sketch is a deterministic function of the data
given the hash family (one md5 fold + Carter-Wegman transforms, the q47
MinHash machinery), so DuckDB reproduces the counters and the estimates
bit-for-bit.  The APPROXIMATION error (estimate vs true count) is
quantified in the output itself and bounded in pytest.

Scale: the sketch build is one groupBy over d*w = 4096 counter keys with
map-side partials — a fixed-size shuffle regardless of corpus size, which
is the whole point of CMS at 100 TB (the exact q74 vocab top-k shuffles
|vocab| keys; this shuffles 4096).  Counters merge by addition, so the
same plan IS the multi-day incremental merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load
from ..queries_registry import registrar
from .dedup import _MH_P, _hex_fold

QUERIES, ORACLES, query = registrar()


_CMS_D = 4      # depth: independent hash rows
_CMS_W = 1024   # width: counters per row
# Carter-Wegman rows over the md5 fold (distinct from the MinHash family's
# constants so the two sketches stay independent)
_CMS_A = (131071, 524287, 2147483647 - 19, 6700417)
_CMS_B = (12582917, 402653189, 786433, 98317)


def _pos_exprs(engine: str, h: str) -> list[str]:
    """d counter positions for a folded token hash ``h``."""
    return [f"((({_CMS_A[i]} * {h} + {_CMS_B[i]}) % {_MH_P}) % {_CMS_W})"
            for i in range(_CMS_D)]


# --------------------------------------------------------------------------
# q113 — count-min heavy hitters: estimate every distinct token's
# frequency from the 4x1024 sketch and report the top-20 by estimate.
# est = min over rows of counter[row][pos_row(token)]; CMS guarantees
# est >= true count, with overestimate <= colliding mass — both visible in
# the output (est_count vs exact n) and bounded in tests/test_approx.py.
#
# Plan shape: tokens fold to h once (md5 + arithmetic, codegen); the
# sketch build explodes each occurrence into d (row, pos) cells and
# aggregates — 4096-key shuffle with map-side combine.  Estimation joins
# the DISTINCT-token frame's d cells against the broadcast 4096-row
# sketch, then a min-groupBy per token and a top-20 rank.  The exact
# count rides along from the same token frame (one extra low-card agg)
# to make the error observable; a pure-sketch deployment drops it.
# --------------------------------------------------------------------------
def _cms_oracle() -> str:
    h = _hex_fold("duckdb", "md5(term)")
    poss = _pos_exprs("duckdb", "h")
    cells = " UNION ALL ".join(
        f"SELECT {i} AS row_i, {poss[i]} AS pos, n FROM tf" for i in range(_CMS_D))
    qcells = " UNION ALL ".join(
        f"SELECT term, n, {i} AS row_i, {poss[i]} AS pos FROM tf"
        for i in range(_CMS_D))
    return f"""
    WITH toks AS (
        SELECT UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf0 AS (
        SELECT term, COUNT(*) AS n FROM toks WHERE term <> '' GROUP BY term
    ),
    tf AS (SELECT term, n, {h} AS h FROM tf0),
    sketch AS (
        SELECT row_i, pos, SUM(n) AS cnt FROM ({cells}) GROUP BY row_i, pos
    ),
    est AS (
        SELECT q.term, MIN(q.n) AS exact_count, MIN(s.cnt) AS est_count
        FROM ({qcells}) q JOIN sketch s
          ON q.row_i = s.row_i AND q.pos = s.pos
        GROUP BY q.term
    )
    SELECT term, CAST(est_count AS BIGINT) AS est_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(est_count - exact_count AS BIGINT) AS overestimate
    FROM (SELECT *, ROW_NUMBER() OVER
              (ORDER BY est_count DESC, term) AS rk FROM est)
    WHERE rk <= 20
    """


@query("q113_cms_heavy_hitters", _cms_oracle())
def q113_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = (d.select(F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != ""))
    # per-term exact counts first: collapses the occurrence stream to the
    # vocab ONCE, and every downstream step (sketch build + estimation)
    # runs over |vocab| rows instead of corpus rows
    tf = (toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
          .withColumn("h", F.expr(_hex_fold("spark", "md5(term)"))))
    poss = _pos_exprs("spark", "h")
    cell_structs = F.array(*[
        F.struct(F.lit(i).alias("row_i"), F.expr(poss[i]).alias("pos"))
        for i in range(_CMS_D)])
    cells = (tf.select("term", "n", F.explode(cell_structs).alias("c"))
             .select("term", "n", "c.row_i", "c.pos"))
    sketch = (cells.groupBy("row_i", "pos")
              .agg(F.sum("n").alias("cnt")))
    est = (cells.join(F.broadcast(sketch), ["row_i", "pos"])
           .groupBy("term")
           .agg(F.min("n").alias("exact_count"),
                F.min("cnt").alias("est_count")))
    w = W.orderBy(F.desc("est_count"), F.asc("term"))
    return (est.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 20)
            .select("term",
                    F.col("est_count").cast("bigint").alias("est_count"),
                    F.col("exact_count").cast("bigint").alias("exact_count"),
                    (F.col("est_count") - F.col("exact_count"))
                    .cast("bigint").alias("overestimate")))


# --------------------------------------------------------------------------
# q114 — KMV (k-minimum-values) distinct-count sketch: keep the k smallest
# hash values of the distinct tokens; est = (k-1) * (P+1) / h_k.  Like the
# CMS above — and unlike q28's HLL — the sketch is a deterministic
# function of the data under the md5 fold, so the sketch rows AND the
# estimate hash-match DuckDB exactly, while the approximation error is
# observable in the output (est vs exact).
#
# Mergeability (the scale story): KMV(A ∪ B) = k smallest of
# KMV(A) ∪ KMV(B) — a union + top-k, so per-partition sketches combine
# associatively; Spark computes exactly that here (per-partition top-k
# partials feed the global top-k under the hood of the rank).
# The estimator is the standard unbiased KMV form (Bar-Yossef et al.).
#
# Plan: distinct-token groupBy (the one real shuffle), then a global
# bottom-k rank over |vocab| rows — two-phase under AQE.  Output is one
# row: h_k, estimate, exact count, relative error.
# --------------------------------------------------------------------------
_KMV_K = 64


def _kmv_oracle() -> str:
    h = _hex_fold("duckdb", "md5(term)")
    return f"""
    WITH toks AS (
        SELECT DISTINCT UNNEST(string_split(text, ' ')) AS term
        FROM documents
    ),
    hashed AS (SELECT term, {h} AS h FROM toks WHERE term <> ''),
    ranked AS (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h, term) AS rk FROM hashed
    ),
    kth AS (SELECT h AS hk FROM ranked WHERE rk = {_KMV_K}),
    exact AS (SELECT COUNT(*) AS n_exact FROM hashed)
    SELECT CAST(kth.hk AS BIGINT) AS kth_min_hash,
           ROUND(({_KMV_K} - 1) * CAST({_MH_P + 1} AS DOUBLE) / kth.hk, 6)
               AS est_distinct,
           CAST(exact.n_exact AS BIGINT) AS exact_distinct
    FROM kth CROSS JOIN exact
    """


@query("q114_kmv_distinct", _kmv_oracle())
def q114_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hashed = (d.select(F.explode(F.split("text", " ")).alias("term"))
              .filter(F.col("term") != "").distinct()
              .withColumn("h", F.expr(_hex_fold("spark", "md5(term)"))))
    w = W.orderBy("h", "term")
    kth = (hashed.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") == _KMV_K)
           .select(F.col("h").alias("hk")))
    exact = hashed.agg(F.count(F.lit(1)).alias("n_exact"))
    return (kth.crossJoin(exact)  # 1-row x 1-row
            .select(F.col("hk").cast("bigint").alias("kth_min_hash"),
                    F.round((_KMV_K - 1) * float(_MH_P + 1) / F.col("hk"), 6)
                    .alias("est_distinct"),
                    F.col("n_exact").cast("bigint").alias("exact_distinct")))


# --------------------------------------------------------------------------
# q119 — KMV set operations: estimate the vocabulary overlap (Jaccard and
# intersection size) between two corpus snapshots (even/odd doc halves)
# from their KMV sketches alone — the theta-sketch use case: compare
# yesterday's and today's crawls without holding either vocabulary.
#
# Standard KMV estimator: merge = bottom-k of the union of both sketches;
# rho = fraction of merge members present in BOTH sketches;
# est_jaccard = rho, est_intersection = rho * est_distinct(union).
# Everything is integer ranks + one double division per output — fully
# deterministic under the md5 fold, hence oracled; the true Jaccard rides
# along so the error is observable.
#
# Scale: each side's sketch is an independent bottom-k (mergeable,
# per-partition partials); the comparison touches 2k = 128 rows.
# --------------------------------------------------------------------------
def _kmv_setops_oracle() -> str:
    h = _hex_fold("duckdb", "md5(term)")
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id % 2 AS side,
               UNNEST(string_split(text, ' ')) AS term
        FROM documents
    ),
    hashed AS (SELECT DISTINCT side, term, {h} AS h
               FROM toks WHERE term <> ''),
    ranked AS (
        SELECT side, term, h, ROW_NUMBER() OVER
            (PARTITION BY side ORDER BY h, term) AS rk
        FROM hashed
    ),
    ska AS (SELECT term, h FROM ranked WHERE side = 0 AND rk <= {_KMV_K}),
    skb AS (SELECT term, h FROM ranked WHERE side = 1 AND rk <= {_KMV_K}),
    merged AS (
        SELECT term, h, ROW_NUMBER() OVER (ORDER BY h, term) AS rk
        FROM (SELECT term, h FROM ska UNION SELECT term, h FROM skb)
    ),
    bot AS (SELECT term, h FROM merged WHERE rk <= {_KMV_K}),
    kth AS (SELECT MAX(h) AS hk FROM bot),
    rho AS (
        SELECT COUNT(*) AS n_both FROM bot
        WHERE term IN (SELECT term FROM ska)
          AND term IN (SELECT term FROM skb)
    ),
    truth AS (
        SELECT COUNT(CASE WHEN n_sides = 2 THEN 1 END) AS n_inter,
               COUNT(*) AS n_union
        FROM (SELECT term, COUNT(DISTINCT side) AS n_sides
              FROM hashed GROUP BY term)
    )
    SELECT CAST(rho.n_both AS BIGINT) AS k_in_both,
           ROUND(CAST(rho.n_both AS DOUBLE) / {_KMV_K}, 6) AS est_jaccard,
           ROUND(CAST(rho.n_both AS DOUBLE) / {_KMV_K}
                 * (({_KMV_K} - 1) * CAST({_MH_P + 1} AS DOUBLE) / kth.hk),
                 6) AS est_intersection,
           ROUND(CAST(truth.n_inter AS DOUBLE) / truth.n_union, 6)
               AS true_jaccard,
           CAST(truth.n_inter AS BIGINT) AS true_intersection
    FROM rho CROSS JOIN kth CROSS JOIN truth
    """


@query("q119_kmv_setops", _kmv_setops_oracle())
def q119_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hashed = (d.select((F.col("doc_id") % 2).alias("side"),
                       F.explode(F.split("text", " ")).alias("term"))
              .filter(F.col("term") != "").distinct()
              .withColumn("h", F.expr(_hex_fold("spark", "md5(term)"))))
    wside = W.partitionBy("side").orderBy("h", "term")
    ranked = hashed.withColumn("rk", F.row_number().over(wside))
    ska = ranked.filter((F.col("side") == 0) & (F.col("rk") <= _KMV_K)) \
        .select("term", "h")
    skb = ranked.filter((F.col("side") == 1) & (F.col("rk") <= _KMV_K)) \
        .select("term", "h")
    merged = (ska.unionByName(skb).distinct()
              .withColumn("rk", F.row_number().over(W.orderBy("h", "term"))))
    bot = merged.filter(F.col("rk") <= _KMV_K).select("term", "h")
    kth = bot.agg(F.max("h").alias("hk"))
    in_a = bot.join(ska.select("term"), "term", "left_semi")
    rho = (in_a.join(skb.select("term"), "term", "left_semi")
           .agg(F.count(F.lit(1)).alias("n_both")))
    sides_per_term = (hashed.groupBy("term")
                      .agg(F.countDistinct("side").alias("n_sides")))
    truth = sides_per_term.agg(
        F.count(F.when(F.col("n_sides") == 2, 1)).alias("n_inter"),
        F.count(F.lit(1)).alias("n_union"))
    est_j = F.col("n_both").cast("double") / _KMV_K
    est_union = (_KMV_K - 1) * float(_MH_P + 1) / F.col("hk")
    return (rho.crossJoin(kth).crossJoin(truth)  # 1-row scalars
            .select(F.col("n_both").cast("bigint").alias("k_in_both"),
                    F.round(est_j, 6).alias("est_jaccard"),
                    F.round(est_j * est_union, 6).alias("est_intersection"),
                    F.round(F.col("n_inter").cast("double")
                            / F.col("n_union"), 6).alias("true_jaccard"),
                    F.col("n_inter").cast("bigint")
                    .alias("true_intersection")))
