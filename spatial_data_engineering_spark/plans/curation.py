"""End-to-end training-data curation pipeline — the LLM-data counterpart
of the flagship spatial report: every stage is one of the engine's
oracled operators, chained into a single Catalyst DAG a user points at a
raw corpus to get packed, split, decontaminated training shards out.

Stage order matters and mirrors production practice:

  1. exact dedup FIRST (hash groupBy keeps lowest doc_id) — identical
     texts collapse before any pairwise machinery, which is also what
     keeps LSH bucket sizes sane (SCALE_NOTES "negative results" #1);
  2. near-dup removal via the MinHash-LSH pair list (q47 shape) closed
     over connected components conceptually — here the admission rule is
     simply "drop the higher doc_id of every confirmed pair", the
     standard keep-first policy;
  3. benchmark decontamination (q79 shape): any doc whose shingle
     overlap with the held-out benchmark exceeds the threshold is
     removed from ALL splits, not just eval — and so are the benchmark
     member documents themselves (eval text must never reach train);
  4. quality-quartile cut per language (q80's core, computed on the
     deduped/decontaminated survivors — the cut reflects the corpus
     that actually remains, not the raw distribution's duplicates);
  5. language balancing to a per-language budget (q78's core, rates
     from the post-cut survivor counts so realized sizes land on K);
  6. deterministic train/val/test assignment (q73's md5 bucket);
  7. greedy sequence packing per (split, shard) (q77) so the output is
     training-ready bins.

Every stage is a pure function of content hashes — re-running the
pipeline on the same corpus yields byte-identical shards on any cluster
layout (the engine's determinism contract).

Since round 8 the WHOLE pipeline is driver-gated, not just its stages:
``q212_curation_shards`` hash-matches the packed shard table (stages
1-7 composed) against a single DuckDB oracle that replays every stage
in SQL — exact-dup keepers, the full MinHash-LSH pair oracle, the
shingle-overlap decontamination oracle, survivor-distribution quantile
cut, md5-rank balancing, bucket split, and the recursive-CTE greedy
pack.  ``q213_curation_funnel`` oracle-checks the per-stage
(n_docs, n_tokens, avg_quality) funnel — the observability table a
curation run reports.  Both compose the SAME oracle fragments the
per-stage queries (q45/q47/q79/q80/q78/q73/q77) are proven with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.common import sql_spark_pct
from ..queries_registry import registrar

QUERIES, ORACLES, query = registrar()


def curation_stages(spark: SparkSession,
                    sf_dir: str) -> list[tuple[str, DataFrame]]:
    """The pipeline's survivor frames, in order: [(stage_name, docs)].

    Each frame carries the full documents columns for exactly the docs
    still alive after that stage; ``curate`` consumes the last one.
    Survivor ID sets are lazily localCheckpointed so funnel consumers
    aggregating EVERY stage pay each stage's upstream (LSH pairs,
    shingle decontamination) once, not once per downstream stage.
    """
    from ..operators.dedup import QUERIES as DQ, near_dup_pairs
    from ..operators.textops import (QUERIES as TQ, _DECON_MOD,
                                     balance_corpus, quality_filter)

    d = load(spark, sf_dir, "documents")
    stages: list[tuple[str, DataFrame]] = [("input", d)]

    def _pin(frame: DataFrame) -> DataFrame:
        # doc_id-only survivor set: corpus-bounded and shrinking, so the
        # checkpoint is cheap; it truncates the stage lineage exactly
        # like the materialized pair table does for the graph consumers
        ids = frame.select("doc_id").localCheckpoint(eager=False)
        return d.join(ids, "doc_id")

    # 1. exact dedup: keep each content hash's lowest doc_id
    keepers = DQ["q45_dedup_exact"](spark, sf_dir) \
        .select(F.col("keeper_doc_id").alias("doc_id"))
    corpus = d.join(F.broadcast(keepers), "doc_id")
    stages.append(("exact_dedup", corpus))

    # 2. near-dup removal: drop the higher id of each confirmed LSH pair
    # (via the shared materialized pair set — computed once per session,
    # not re-derived by every graph consumer)
    pairs = near_dup_pairs(spark, sf_dir)
    losers = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    corpus = corpus.join(losers, "doc_id", "left_anti")
    stages.append(("near_dedup", corpus))

    # 3. decontamination: drop flagged docs AND the benchmark members
    # themselves — eval text must not land in any split.  Membership here
    # is a pure function of doc_id (q79's contract), so the member drop
    # is a shuffle-free filter; with a real eval suite it would be the
    # same left_anti as the flagged set.
    contaminated = TQ["q79_decontaminate"](spark, sf_dir).select("doc_id")
    corpus = _pin(corpus.join(contaminated, "doc_id", "left_anti")
                  .filter(F.col("doc_id") % _DECON_MOD != 0))
    stages.append(("decontaminated", corpus))

    # 4. per-language quality-quartile cut — q80's core on the SURVIVORS,
    # so the p25 thresholds reflect the deduped/decontaminated corpus,
    # not the raw distribution (whose duplicates would skew the cut)
    quality_kept = quality_filter(corpus).select("doc_id")
    corpus = _pin(corpus.join(quality_kept, "doc_id"))
    stages.append(("quality_cut", corpus))

    # 5. language balancing — q78's core on the post-cut survivors, so
    # keep-rates are computed from the counts actually entering this
    # stage and realized per-language sizes concentrate around K
    balanced = balance_corpus(corpus).select("doc_id")
    corpus = _pin(corpus.join(balanced, "doc_id"))
    stages.append(("balanced", corpus))
    return stages


def curation_stages_cached(spark: SparkSession,
                           sf_dir: str) -> list[tuple[str, DataFrame]]:
    """Session-memoized ``curation_stages``: q212 (shards) and q213
    (funnel) replay the same deterministic stage pipeline, whose LSH-pair,
    decontamination and quality-cut upstream the lazily-checkpointed
    survivor sets exist to pay once."""
    from ..operators.dedup import _doc_frame_memo

    # Every table a stage reads must be named here so its fingerprint
    # folds into the key.  All five stages derive solely from documents
    # (q79's benchmark membership is a doc_id function, not a table read);
    # a stage that reads another table must add it to ``table=``.
    return _doc_frame_memo(spark, sf_dir, "curation_stages",
                           lambda: curation_stages(spark, sf_dir),
                           table=("documents",))


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full curation DAG; returns (doc_id, lang, split, shard,
    bin_idx, n_tokens) — the packed training-shard assignment."""
    from ..operators.textops import (_PACK_CAP, _PACK_SHARDS, _md5_bucket)

    corpus = curation_stages_cached(spark, sf_dir)[-1][1]

    # 6. deterministic split assignment (q73's md5 bucket contract)
    bucket = F.expr(_md5_bucket("spark", "doc_id"))
    corpus = corpus.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test"))

    # 7. greedy packing per (split, shard) — q77's walk, applied to the
    # curated survivors only
    import pandas as pd

    toks = corpus.select(
        "doc_id", "lang", "split",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, bin_idx, cum = [], 0, 0
        for i, n in enumerate(pdf["n_tokens"]):
            if i == 0:
                cum = n
            elif cum + n > _PACK_CAP:
                bin_idx += 1
                cum = n
            else:
                cum += n
            bins.append(bin_idx)
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "lang", "split", "shard", "bin_idx",
                    "n_tokens"]]

    return toks.groupBy("split", "shard").applyInPandas(
        pack, schema="doc_id bigint, lang string, split string, "
                     "shard bigint, bin_idx bigint, n_tokens bigint")


def admit_delta(base: DataFrame, delta: DataFrame,
                bench: DataFrame | None = None,
                base_signatures: tuple[DataFrame, DataFrame] | None = None,
                base_exact_hashes: DataFrame | None = None,
                ) -> DataFrame:
    """Incremental corpus admission: which delta docs may JOIN an
    already-curated base — without recomputing anything base x base.

    The production 100 TB refresh path: a day's crawl arrives as a
    delta batch; re-running the whole pipeline over base+delta would
    re-pay the corpus-sized LSH and decontamination every day.  This
    admits the delta against the base in delta-dominated work:

    * exact: delta docs whose md5(text) already exists in base are
      rejected; within the delta the lowest doc_id per hash survives
      (the q45/q82 keep-first contract);
    * near-dup: delta band keys join BASE band keys (the base (sh,
      bands) signature pair is computed once here and is the stored
      signature table at warehouse scale — written alongside the q47
      pair table, never recomputed per delta) plus a delta-internal
      band self-join; candidates verify by exact shingle Jaccard and
      verified delta docs are rejected (vs base) or keep-first
      resolved (within delta — curate()'s drop-the-higher-id rule);
    * decontamination: if ``bench`` is given, delta docs whose shingle
      overlap with the benchmark set reaches the q79 threshold are
      rejected.

    Returns the admitted delta rows (all delta columns).  Base work is
    signature-building only — linear, cacheable, no pair recompute —
    and even that is paid once ACROSS SESSIONS when the caller passes
    ``base_signatures`` from ``dedup.persisted_shingle_bands(spark,
    src)`` — the stored signature table, written to parquet next to the
    pair table and keyed by the same corpus + LSH-parameter fingerprint
    (both caches invalidate together).  A fresh session's refresh then
    pays a parquet read, not the base signature build.  Measured at
    400k base docs (scripts/stress_curation.py): signature build ~9.5 s
    once, every subsequent delta admission ~13 s — vs ~200 s for a full
    pipeline re-run per refresh.
    """
    from ..operators.dedup import _near_dup_admission, shingle_bands
    from ..operators.textops import _DECON_THETA

    # 1. exact, vs base then within-delta keep-first.  The base side is
    # probed by BROADCASTING the delta's (tiny) hash set into one scan
    # of the base hash table — the base never shuffles, and with
    # ``base_exact_hashes`` from ``dedup.persisted_exact_hashes`` it is
    # a stored-table scan, not a corpus read (the same pattern as the
    # signature tables: all three persist together, so a refresh never
    # touches the base corpus at all).  The collision set is at most
    # delta-sized, so the anti-join against it broadcasts too.
    bh = (base_exact_hashes if base_exact_hashes is not None
          else base.select(F.md5("text").alias("eh")).distinct())
    keyed = delta.withColumn("eh", F.md5("text"))
    dh = keyed.select("eh").distinct()
    hits = bh.join(F.broadcast(dh), "eh").select("eh").distinct()
    d1 = keyed.join(F.broadcast(hits), "eh", "left_anti")
    first = d1.groupBy("eh").agg(F.min("doc_id").alias("doc_id"))
    d1 = d1.join(first, ["eh", "doc_id"]).drop("eh")

    # 2. near-dup: delta bands vs base bands + delta self-join — q226's
    # tiers 2-3; the delta bands broadcast, so the corpus-sized base
    # band table never shuffles for a delta-sized probe
    base_sh, base_bands = base_signatures or shingle_bands(base)
    delta_sh, delta_bands = shingle_bands(d1)
    d2 = _near_dup_admission(d1, delta_bands, base_bands, delta_sh, base_sh)

    # 3. decontamination vs an explicit benchmark frame
    if bench is not None:
        from ..operators.dedup import _SHINGLES_SPARK

        bench_sh = (bench.select(F.explode(F.expr(
            _SHINGLES_SPARK.format(col="text"))).alias("t")).distinct())
        d2_sh = d2.select(
            "doc_id",
            F.expr(_SHINGLES_SPARK.format(col="text")).alias("tl"))
        doc_tok = d2_sh.select(
            "doc_id", F.size("tl").cast("bigint").alias("n_shingles"),
            F.explode("tl").alias("t"))
        m = (doc_tok.join(F.broadcast(bench_sh), "t")
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_matched"),
                  F.min("n_shingles").alias("n_shingles")))
        flagged = (m.filter(F.col("n_matched") * 1.0 / F.col("n_shingles")
                            >= _DECON_THETA).select("doc_id"))
        d2 = d2.join(flagged, "doc_id", "left_anti")
    return d2


def materialize_curated(spark: SparkSession, sf_dir: str,
                        out_dir: str) -> None:
    """The pipeline's SINK: write the packed shard assignment as a
    split-partitioned parquet dataset.

    Layout: ``out_dir/split=train|val|test/``, one file group per
    ``shard`` within each split (repartition by the two keys so a shard's
    bins land together — the locality the training loader reads by).
    Downstream readers prune by split at the directory level
    (PartitionFilters, pinned by test_curation) — a 100 TB consumer
    scanning only ``split=train`` never lists the val/test files.  At
    warehouse scale the same frame ``saveAsTable``s with
    ``bucketBy(shard)`` (the test_bucketing pattern) for shuffle-free
    per-shard reads; plain parquet keeps this path catalog-free.
    """
    (curate(spark, sf_dir)
     .repartition("split", "shard")
     .write.mode("overwrite")
     .partitionBy("split")
     .parquet(out_dir))


# --------------------------------------------------------------------------
# Oracle assembly: one SQL replay of the whole pipeline, composed from
# the SAME registered fragments the per-stage queries are proven with
# (q45 keepers, the full q47 pair oracle, the q79 flag oracle, q80's
# quantile cut, q78's md5-rank balancing, q73's bucket, q77's recursive
# pack).  The c1..c5 CTE chain mirrors curation_stages exactly.
# --------------------------------------------------------------------------


def _scored_cte(rel: str, suffix: str) -> str:
    """textops._SCORED_SQL re-rooted at CTE ``rel`` with renamed CTE
    names (feats_<suffix>, scored_<suffix>) so one statement can score
    two different relations.  Derived from the registered constant —
    never a second copy of the quality formula."""
    import re

    from ..operators.textops import _SCORED_SQL

    s = _SCORED_SQL.replace("WITH ", "", 1)
    assert "FROM documents" in s
    s = s.replace("FROM documents", f"FROM {rel}")
    # word-boundary substitution with asserted counts: a future column
    # named e.g. scored_at or feats_json must fail LOUDLY here, not
    # silently corrupt the oracle (round-8 advice)
    s, n_feats = re.subn(r"\bfeats\b", f"feats_{suffix}", s)
    s, n_scored = re.subn(r"\bscored\b", f"scored_{suffix}", s)
    assert n_feats >= 2 and n_scored >= 1, (n_feats, n_scored)
    return s


def _survivor_ctes() -> str:
    """CTE chain c1..c5 = the five survivor sets after each stage."""
    from ..operators.dedup import ORACLES as DORACLES
    from ..operators.textops import (ORACLES as TORACLES, _BALANCE_K,
                                     _DECON_MOD, _HASH_DOMAIN, _QF_P,
                                     _doc_key)

    q47 = DORACLES["q47_minhash_lsh"]
    q79 = TORACLES["q79_decontaminate"]
    return f"""
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    c1 AS (SELECT d.* FROM documents d JOIN keepers k ON d.doc_id = k.doc_id),
    losers AS (SELECT DISTINCT b_id AS doc_id FROM ({q47}) q47),
    c2 AS (SELECT * FROM c1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    flagged AS (SELECT doc_id FROM ({q79}) q79),
    c3 AS (SELECT * FROM c2
           WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
             AND doc_id % {_DECON_MOD} <> 0),
    {_scored_cte('c3', 'c3')},
    {sql_spark_pct('scored_c3', 'quality', [(str(_QF_P), 'p25')],
                   part=['lang'], prefix='thr')},
    c4 AS (SELECT c3.* FROM c3
           JOIN scored_c3 s ON c3.doc_id = s.doc_id
           JOIN thr t ON c3.lang = t.lang
           WHERE s.quality >= t.p25),
    rates AS (SELECT lang, least(1.0, {_BALANCE_K} * 1.0 / COUNT(*)) AS rate
              FROM c4 GROUP BY 1),
    keyed AS (SELECT doc_id, lang, {_doc_key('duckdb')} AS u FROM c4),
    c5 AS (SELECT c4.* FROM c4
           JOIN keyed kk ON c4.doc_id = kk.doc_id
           JOIN rates r ON c4.lang = r.lang
           WHERE kk.u < CAST(ceil(r.rate * {_HASH_DOMAIN}) AS BIGINT))"""


def _oracle_q212() -> str:
    from ..operators.textops import _PACK_CAP, _PACK_SHARDS, _md5_bucket

    bucket = _md5_bucket("duckdb", "doc_id")
    return f"""
    WITH RECURSIVE
    {_survivor_ctes()},
    splitdocs AS (
        SELECT doc_id,
               CASE WHEN {bucket} < 80 THEN 'train'
                    WHEN {bucket} < 90 THEN 'val'
                    ELSE 'test' END AS split,
               doc_id % {_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM c5
    ),
    ord AS (
        SELECT *, row_number() OVER (PARTITION BY split, shard
                                     ORDER BY doc_id) AS rn
        FROM splitdocs
    ),
    packed AS (
        SELECT split, shard, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS bin_idx, n_tokens AS cum
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.split, o.shard, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN p.cum + o.n_tokens > {_PACK_CAP}
                    THEN p.bin_idx + 1 ELSE p.bin_idx END,
               CASE WHEN p.cum + o.n_tokens > {_PACK_CAP}
                    THEN o.n_tokens ELSE p.cum + o.n_tokens END
        FROM packed p JOIN ord o
          ON o.split = p.split AND o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT split, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(bin_idx) + 1 AS BIGINT) AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY split, shard
    """


def _oracle_q213() -> str:
    from ..operators.common import sql_davg

    rows = []
    for idx, (name, rel) in enumerate([
            ("input", "documents"), ("exact_dedup", "c1"),
            ("near_dedup", "c2"), ("decontaminated", "c3"),
            ("quality_cut", "c4"), ("balanced", "c5")]):
        rows.append(f"""
        SELECT CAST({idx} AS BIGINT) AS stage_idx, '{name}' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
                   AS n_tokens,
               {sql_davg('s.quality', 'avg_quality')}
        FROM {rel} d JOIN scored_all s ON d.doc_id = s.doc_id""")
    union = "\n    UNION ALL".join(rows)
    return f"""
    WITH RECURSIVE
    {_survivor_ctes()},
    {_scored_cte('documents', 'all')}
    {union}
    """


@query("q212_curation_shards", _oracle_q212())
def q212_curation_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed training-shard table of the FULL curation pipeline —
    stages 1-7 composed and hash-matched end to end."""
    out = curate(spark, sf_dir)
    return out.groupBy("split", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.max("bin_idx") + 1).cast("bigint").alias("n_bins"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"))


@query("q213_curation_funnel", _oracle_q213())
def q213_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage curation funnel: docs, whitespace tokens and mean
    quality surviving each stage — the observability table a curation
    run reports (and the numbers a 100 TB run watches for stage-level
    regressions)."""
    from ..operators.common import davg
    from ..operators.textops import _scored_quality

    d = load(spark, sf_dir, "documents")
    per_doc = (d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("nt"))
        .join(_scored_quality(d).select("doc_id", "quality"), "doc_id"))

    parts = []
    for idx, (name, frame) in enumerate(curation_stages_cached(spark,
                                                               sf_dir)):
        parts.append(
            frame.select("doc_id").join(per_doc, "doc_id").agg(
                F.lit(idx).cast("bigint").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("nt").cast("bigint").alias("n_tokens"),
                davg("quality", "avg_quality")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# q215 — rate-limited sampling (round-11 inventory growth, VERDICT r10
# task 6b): admit at most R events per (user, day), keeping the FIRST R
# by (ts, event_id) — the producer-cap every ingestion pipeline places in
# front of a training-data firehose so no single key dominates a window.
# R=2 on day buckets binds on this data (1739 of 4006 user-days capped
# at sf0.01); hour buckets at this density never cap, which would test
# nothing.
#
# Spark-first shape: a (user, bucket)-partitioned row_number — partial
# sort within hash partitions, no global window, key cardinality =
# users x hours.  The STREAMING twin is
# streaming/stateful.py::rate_limit_stream (applyInPandasWithState,
# 2-bigint state per user, exactly-once under checkpointing);
# stream == batch decisions are pinned by
# tests/test_streaming_ratelimit.py.  The headline query aggregates per
# hour so the driver row is horizon-bounded.
# --------------------------------------------------------------------------
_RATE_R = 2


def rate_limited_admissions(events: DataFrame, r: int = _RATE_R
                            ) -> DataFrame:
    """Batch twin of ``rate_limit_stream``: the admitted rows —
    first ``r`` per (user_id, day bucket) by (ts, event_id)."""
    from pyspark.sql.window import Window as W

    b = F.date_trunc("day", F.col("ts")).alias("bucket_start")
    rn = F.row_number().over(
        W.partitionBy("user_id", F.date_trunc("day", F.col("ts")))
        .orderBy("ts", "event_id"))
    return (events.select("event_id", "user_id", "ts", b)
            .withColumn("rn", rn).filter(F.col("rn") <= r).drop("rn"))


_ORACLE_Q215 = f"""
    WITH rnk AS (
        SELECT date_trunc('day', ts) AS b, user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_arrived,
           CAST(SUM(CASE WHEN rn <= {_RATE_R} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(COUNT(DISTINCT CASE WHEN rn > {_RATE_R} THEN user_id END)
                AS BIGINT) AS n_capped_users
    FROM rnk GROUP BY b
"""


@query("q215_rate_limited_sample", _ORACLE_Q215)
def q215_rate_limited_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load(spark, sf_dir, "events")
    rnk = e.select(
        F.date_trunc("day", F.col("ts")).alias("b"), "user_id",
        F.row_number().over(
            W.partitionBy("user_id", F.date_trunc("day", F.col("ts")))
            .orderBy("ts", "event_id")).alias("rn"))
    return (rnk.groupBy("b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_arrived"),
                 F.sum(F.when(F.col("rn") <= _RATE_R, 1).otherwise(0))
                 .cast("bigint").alias("n_admitted"),
                 F.countDistinct(
                     F.when(F.col("rn") > _RATE_R, F.col("user_id")))
                 .cast("bigint").alias("n_capped_users"))
            .select(F.date_format("b", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "n_arrived", "n_admitted", "n_capped_users"))
