"""q226 — MinHash-tier incremental admission (round 16; VERDICT r15
task 5): the curation tier q82 lacked.  A daily batch is admitted only
if it survives (1) exact-hash + token-sort-fingerprint anti joins vs
the standing corpus (byte-for-byte q82), (2) LSH-banded near-dup
verification against the corpus signature table, and (3) within-batch
keep-first (drop the higher doc_id of a verified pair).

Covers: every planted tier class on a synthetic corpus (with DuckDB
oracle cross-check on the same parquet), and the streaming twin's
parity contract — micro-batches arriving in doc_id order admit exactly
the batch form's set.
"""

from __future__ import annotations

import os
import random
import time

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE
from .parity import compare

WORDS = ("quark lattice photon meson hadron lepton baryon gluon "
         "boson fermion spinor tensor gauge flux brane string "
         "orbit vector matrix kernel eigen basis field group ring").split()


def _text(seed: int, n: int = 40) -> str:
    return " ".join(random.Random(seed).choices(WORDS, k=n))


def _planted(tmp_path):
    """documents.parquet with every admission tier planted.

    Corpus = doc_id % 10 != 9; batch = doc_id % 10 == 9 (q82's split).
    """
    corpus = {i: _text(i) for i in range(1, 8)}  # ids 1..7
    perm = corpus[2].split()
    random.Random(99).shuffle(perm)
    rows = [
        *[(i, t) for i, t in corpus.items()],
        (9, corpus[1]),                    # exact copy      -> tier 1
        (19, " ".join(perm)),              # token-permuted  -> tier 1 (fp)
        (29, corpus[3] + " extra"),        # near-dup corpus -> tier 2
        (39, _text(50)),                   # fresh           -> ADMIT
        (49, _text(50) + " tail"),         # near-dup of 39  -> tier 3
        (59, _text(60)),                   # fresh           -> ADMIT
    ]
    pdf = pd.DataFrame({
        "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
        "lang": ["en"] * len(rows),
        "source": ["web"] * len(rows),
        "text": [r[1] for r in rows],
    })
    pdf.to_parquet(tmp_path / "documents.parquet")
    return pdf


def test_q226_planted_tiers(spark, tmp_path):
    from spatial_data_engineering_spark.operators import dedup

    _planted(tmp_path)
    got = dedup.QUERIES["q226_incremental_near_dedup"](
        spark, str(tmp_path))
    assert sorted(r.doc_id for r in got.collect()) == [39, 59]

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')")
    compare(got, con.sql(
        dedup.ORACLES["q226_incremental_near_dedup"]).df(),
        "q226-planted")


def test_q226_is_q82_plus_near_dup_tier(spark):
    """q226 admits a SUBSET of q82 (the LSH tier can only reject), and
    at the oracle SF the tier actually fires (strictly fewer docs) —
    otherwise the planted test is the only evidence it runs."""
    from spatial_data_engineering_spark.operators import dedup
    from .conftest import SF_ORACLE

    q82 = {r.doc_id for r in dedup.QUERIES["q82_incremental_dedup"](
        spark, SF_ORACLE).collect()}
    q226 = {r.doc_id for r in dedup.QUERIES[
        "q226_incremental_near_dedup"](spark, SF_ORACLE).collect()}
    assert q226 <= q82
    assert len(q226) < len(q82), \
        "near-dup tier never fired at the oracle SF"


def test_stream_near_dedup_matches_q226(spark, tmp_path):
    """PARITY CONTRACT: the q82 batch streamed through
    stream_admit_near_dedup as doc_id-ordered micro-batches admits
    exactly the batch q226 set — tier-1 survivors accumulate across
    micro-batches, so a later doc near-duplicating an EARLIER tier-1
    survivor is rejected just as the batch form's a<b rule drops it."""
    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators import dedup
    from spatial_data_engineering_spark.streaming.windows import (
        stream_admit_near_dedup)

    docs = load(spark, SF_SMOKE, "documents")
    is_batch = F.col("doc_id") % 10 == 9
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch).select(
        "doc_id", "lang", "source", "text")
    ids = sorted(r.doc_id for r in batch.select("doc_id").collect())
    assert len(ids) >= 4
    mid = ids[len(ids) // 2]

    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    # two files, doc_id-ordered, distinct mtimes => two micro-batches
    # arriving in id order
    batch.filter(F.col("doc_id") < mid).coalesce(1).write.mode(
        "overwrite").parquet(f"{stream_dir}/f1")
    time.sleep(1.1)
    batch.filter(F.col("doc_id") >= mid).coalesce(1).write.mode(
        "overwrite").parquet(f"{stream_dir}/f2")

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(stream_dir))
    out_dir = str(tmp_path / "admitted")
    stream_admit_near_dedup(stream, corpus, out_dir,
                            str(tmp_path / "ckpt"))

    got = spark.read.parquet(out_dir)
    exp = dedup.QUERIES["q226_incremental_near_dedup"](spark, SF_SMOKE)
    assert (sorted(r.doc_id for r in got.collect())
            == sorted(r.doc_id for r in exp.collect()))
    # admitted rows keep the full batch row (schema passthrough)
    assert set(batch.columns) <= set(got.columns)


def test_stream_near_dedup_cross_batch_rejection(spark, tmp_path):
    """A micro-batch-2 doc near-duplicating a tier-1 survivor from
    micro-batch 1 is rejected via the persisted cross-batch dedup base
    (the _t1sigs tables) — fresh docs still admit."""
    from spatial_data_engineering_spark.streaming.windows import (
        stream_admit_near_dedup)

    corpus = spark.createDataFrame(
        [(i, _text(i)) for i in range(1, 5)], "doc_id long, text string")
    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    # batch 1: doc 100 is fresh (admitted, and in the t1 base)
    spark.createDataFrame(
        [(100, _text(50))], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/f1")
    time.sleep(1.1)
    # batch 2: doc 200 near-dups doc 100 (cross-batch reject); 201 fresh
    spark.createDataFrame(
        [(200, _text(50) + " extra"), (201, _text(77))],
        "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/f2")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(stream_dir))
    out_dir = str(tmp_path / "admitted")
    stream_admit_near_dedup(stream, corpus, out_dir,
                            str(tmp_path / "ckpt"))
    got = sorted(r.doc_id
                 for r in spark.read.parquet(out_dir).collect())
    assert got == [100, 201], got


def test_stream_near_dedup_recovers_partial_sig_batch(spark, tmp_path):
    """Crash window for the tier-1 state: batch=1's survivors are
    committed under ``_t1`` but its ``_t1sigs`` partitions are lost,
    while batch=0's keep both sig tables in existence.  Coverage is per
    batch partition, so a replay under a fresh checkpoint must rebuild
    batch 1's signatures from its ``_t1`` docs and still reject a
    planted near-dup of its survivor."""
    import glob
    import shutil

    from spatial_data_engineering_spark.streaming.windows import (
        stream_admit_near_dedup)

    corpus = spark.createDataFrame(
        [(i, _text(i)) for i in range(1, 5)], "doc_id long, text string")
    stream_dir = tmp_path / "incoming"
    os.makedirs(stream_dir)

    def put(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1).write.parquet(str(stream_dir / name))
        time.sleep(1.1)  # distinct mtimes => deterministic batch order

    def run(ckpt, **opts):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .options(recursiveFileLookup="true", **opts)
                  .parquet(str(stream_dir)))
        stream_admit_near_dedup(stream, corpus, out_dir,
                                str(tmp_path / ckpt))
        return sorted(r.doc_id
                      for r in spark.read.parquet(out_dir).collect())

    out_dir = str(tmp_path / "admitted")
    put("f1", [(100, _text(50))])
    put("f2", [(201, _text(60))])
    assert run("ckpt1", maxFilesPerTrigger=1) == [100, 201]
    # the crash state: batch=1's sig PARTITIONS gone, tables still exist
    lost = glob.glob(os.path.join(out_dir, "_t1sigs", "*", "batch=1"))
    assert len(lost) == 2
    for d in lost:
        shutil.rmtree(d)
    assert os.path.isdir(os.path.join(out_dir, "_t1sigs", "sh", "batch=0"))

    # f2 leaves the stream, so 300 can only be rejected through batch
    # 1's persisted tier-1 state; f1 + f3 replay as one batch 0
    shutil.rmtree(stream_dir / "f2")
    put("f3", [(300, _text(60) + " tail"), (301, _text(70))])
    # 100 re-admitted (own replayed partition excluded), 201 still in
    # batch=1, 300 near-dup of 201 (the batch whose sigs were lost),
    # 301 fresh
    assert run("ckpt2") == [100, 201, 301]
    # the rebuilt state was written back, so no later batch rebuilds it
    assert all(os.path.isdir(d) for d in lost), lost
