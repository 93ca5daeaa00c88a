#!/usr/bin/env python
"""Build a 10x scale-up of /root/testdata/sf0.1 for the one-off sf1.0
scale probe (VERDICT r9 task 2).

NOT driver testdata — the driver's sf dirs are read-only and correctness
is judged at sf0.01; this dataset exists solely so the full 212-query
suite can be timed at 10x bench scale to catch constant factors that
don't travel (repartition counts, broadcast thresholds, df caps).

Design: each table is the union of 10 key-offset replicas, preserving
exactly the properties the queries are sensitive to at scale:

* **Dense keys.** sf0.1 keys are dense 0..N-1; replica i adds i*N, so
  sf1 keys are dense 0..10N-1 — the same shape a native generator would
  emit (selectivities of key-range filters, join fan-outs, and groupBy
  cardinalities all scale linearly).
* **FK integrity.** Fact FKs are offset with their dimension's stride
  (orders.o_custkey with customer's, lineitem's three FKs with their
  dims'), so every join finds its row and per-key fan-out is unchanged.
* **region/nation are NOT replicated** — they are constitutionally tiny
  dims (the broadcast-join property under test).
* **Documents must not cross-replica-dup.** A verbatim 10x copy would
  make every doc a member of a 10-clique in the dup graph — a
  pathological corpus no real 10x crawl resembles — so replica i>0
  passes text through a per-replica `translate()` letter rotation:
  word count, word lengths, and n_chars are preserved (the mapping is
  length-preserving), WITHIN-replica dup structure is preserved (the
  same function applies to every doc of the replica), but cross-replica
  shingle/token overlap collapses to ~0 and vocab grows ~Heaps-like —
  the dup RATE of the corpus stays sf0.1's.
* **Embeddings must not cross-replica-dup** either: replica i rolls
  each vector by i components and sign-flips odd positions on odd
  replicas (norm-preserving, decorrelating); within-replica geometry —
  label clusters, near-dup pairs — is untouched.
* **Events keep the 30-day horizon** at 10x density (windows see 10x
  rows, the realistic scale-up for a busier system), with user_id
  offset by its own stride so per-user session lengths are unchanged.

Usage: python scripts/make_sf1.py [out_dir]   (default ./testdata_sf1)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
REPLICAS = 10

# per-table (key column -> stride) offsets; stride = sf0.1 row count so
# keys stay dense
STRIDES = {
    "customer": {"c_custkey": 15_000},
    "supplier": {"s_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {"l_orderkey": 150_000, "l_partkey": 20_000,
                 "l_suppkey": 1_000},
    "events": {"event_id": 100_000, "user_id": 1_500},
    "documents": {"doc_id": 5_000},
}

# output file counts: big facts get enough splits for wide local scans
N_FILES = {"lineitem": 32, "orders": 16, "events": 16, "documents": 8,
           "customer": 8, "part": 8}

_LETTERS = "aeioubcdfghjklmnpqrstvwxyz"


def _rot(i: int) -> str:
    return _LETTERS[i:] + _LETTERS[:i]


def _replicate(spark, table: str, F):
    df = spark.read.parquet(f"{SRC}/{table}.parquet")
    rep = spark.range(REPLICAS).withColumnRenamed("id", "__r")
    wide = df.crossJoin(rep)
    for col, stride in STRIDES.get(table, {}).items():
        wide = wide.withColumn(col, F.col(col) + F.col("__r") * stride)
    if table == "documents":
        # length-preserving per-replica letter rotation: kills
        # cross-replica token overlap, keeps within-replica dup
        # structure and every length statistic (n_chars still true)
        cases = None
        for i in range(1, REPLICAS):
            cond = F.col("__r") == i
            t = F.translate(F.col("text"), _LETTERS, _rot(i))
            cases = F.when(cond, t) if cases is None else cases.when(cond, t)
        wide = wide.withColumn("text", cases.otherwise(F.col("text")))
    if table in ("customer", "supplier"):
        # keep names unique across replicas (10x distinct entities,
        # like a native generator)
        name_col = "c_name" if table == "customer" else "s_name"
        wide = wide.withColumn(
            name_col,
            F.when(F.col("__r") == 0, F.col(name_col)).otherwise(
                F.concat(F.col(name_col), F.lit("_r"),
                         F.col("__r").cast("string"))))
    return wide.drop("__r").select(*df.columns)


def _embeddings(out_dir: str) -> None:
    """numpy path (20k rows): roll + sign-flip per replica, preserving
    the arrow schema of the source file exactly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SRC}/embeddings.parquet")
    vec_id = t["vec_id"].to_numpy()
    label = t["label"].to_numpy()
    emb = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    n, dim = emb.shape
    ids, labs, vecs = [], [], []
    for i in range(REPLICAS):
        v = np.roll(emb, i, axis=1)
        if i % 2 == 1:
            v = v.copy()
            v[:, 1::2] *= -1.0
        ids.append(vec_id + i * n)
        labs.append(label)
        vecs.append(v)
    ids = np.concatenate(ids)
    labs = np.concatenate(labs)
    vecs = np.concatenate(vecs)
    etype = t.schema.field("embedding").type
    out = pa.table({
        "vec_id": pa.array(ids, t.schema.field("vec_id").type),
        "embedding": pa.array(list(vecs), etype),
        "label": pa.array(labs, t.schema.field("label").type),
    })
    pq.write_table(out, os.path.join(out_dir, "embeddings.parquet"))


def main() -> None:
    out_dir = os.path.abspath(
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO,
                                                           "testdata_sf1"))
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.session import build_session

    spark = build_session(app_name="make-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    import shutil
    for tiny in ("region", "nation"):
        shutil.copy(f"{SRC}/{tiny}.parquet",
                    os.path.join(out_dir, f"{tiny}.parquet"))
        print(f"{tiny}: copied (tiny dim, not replicated)")

    for table in ("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents"):
        wide = _replicate(spark, table, F)
        nf = N_FILES.get(table, 4)
        dst = os.path.join(out_dir, f"{table}.parquet")
        wide.repartition(nf).write.mode("overwrite").parquet(dst)
        print(f"{table}: {spark.read.parquet(dst).count()} rows "
              f"-> {dst} ({nf} files)")

    _embeddings(out_dir)
    print(f"embeddings: replicated (numpy roll+flip) -> {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
